"""Seeded input generators for the three benchmark workloads.

Each generator writes its input files into a directory and returns the
facts its output checker needs. The same seed gives byte-identical files
and identical facts; the engine only ever sees the files.

* ``feed``         — delimited health-registry CSVs (header row, a small
                     share of quoted cells, NHS numbers, postcodes, two date
                     formats, ICD and OPCS code lists);
* ``media_decode`` — one parquet file of valid image payloads in six
                     codecs, with planted cross-format pixel duplicates;
* ``corpus_dedup`` — one parquet file of HTML pages with planted exact
                     copies and near copies.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import zlib

# Sizes at --scale 1. They are set by the time a full benchmark pass may
# take (see README.md, "Input sizes"); --scale multiplies them.
FEED_ROWS = 5_000
FEED_FILES = 4
MEDIA_IMAGES = 960
MEDIA_SIDE = 32
# one part file per core of a 4-core host: Spark packs small files into
# partitions, and a single 1 MB file would be decoded on one core
MEDIA_FILES = 4
CORPUS_PAGES = 1_000

CODECS = ("png", "gif", "bmp", "tiff", "webp", "jpeg")
LOSSLESS = ("png", "gif", "bmp", "tiff", "webp")

# input records per workload at --scale 1 (rows, payloads, pages), and the
# generator argument that sets them
INPUT_RECORDS = {
    "feed": FEED_ROWS,
    "media_decode": MEDIA_IMAGES,
    "corpus_dedup": CORPUS_PAGES,
}
SIZE_ARG = {"feed": "rows", "media_decode": "images", "corpus_dedup": "pages"}


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"{workload}:{seed}")


def crc_sum(pairs) -> int:
    """Order-independent fingerprint: sum of crc32("key|value") over pairs."""
    return sum(zlib.crc32(f"{k}|{v}".encode()) for k, v in pairs)


# ---------------------------------------------------------------------------
# feed
# ---------------------------------------------------------------------------

FEED_HEADER = [
    "local_id", "surname", "forenames", "nhs_no", "postcode", "sex", "dob",
    "diagnosis_date", "icd_codes", "opcs_codes", "behaviour", "site",
]

FEED_MAPPING = """\
canonical_name: registry
header_lines: 1
format: csv
columns:
- column: local_id
  klass: [Patient, Tumour]
  mappings:
  - field: local_id
    validates:
      presence: true
- column: surname
  klass: Patient
  mappings:
  - field: surname
    clean: :name
- column: forenames
  klass: Patient
  mappings:
  - field: forenames
    clean: :name
- column: nhs_no
  klass: [Patient, Tumour]
  mappings:
  - field: nhsnumber
    clean: :nhsnumber
- column: postcode
  klass: Patient
  mappings:
  - field: postcode
    clean: :postcode
- column: sex
  klass: Patient
  mappings:
  - field: sex
    clean: :sex
- column: dob
  klass: Patient
  mappings:
  - field: dob
    format: dd/mm/yyyy
- column: diagnosis_date
  klass: Tumour
  mappings:
  - field: diagnosis_date
    format: yyyymmdd
- column: icd_codes
  klass: Tumour
  mappings:
  - field: icd
    clean: :icd
- column: opcs_codes
  klass: Tumour
  mappings:
  - field: opcs
    clean: :code_opcs
- column: behaviour
  klass: Tumour
  mappings:
  - field: behaviour
    map:
      '0': benign
      '1': uncertain
      '2': in situ
      '3': malignant
- column: site
  klass: Tumour
  mappings:
  - field: site
    replace:
    - '^Ca ': 'Carcinoma '
"""

_SURNAMES = [
    "smith", "jones", "taylor", "brown", "williams", "wilson", "johnson",
    "davies", "robinson", "wright", "thompson", "evans", "walker", "white",
    "roberts", "green", "hall", "wood", "jackson", "clarke", "o'neill",
    "st. john", "ap rhys", "mc donald",
]
_FORENAMES = [
    "anna", "belle", "oliver", "amelia", "george", "isla", "harry", "ava",
    "jack", "mia", "noah", "grace", "leo", "freya", "arthur", "lily",
]
_SEXES = ["M", "F", "1", "2", "male", "Female", "9"]
_SITES = ["Ca lung", "Ca breast", "Carcinoma of colon", "Ca prostate",
          "Melanoma", "Ca bladder"]
_ICD_LETTERS = "CDRZ"
_OPCS_LETTERS = "ABHJKTUXY"
_EPOCH = datetime.date(1920, 1, 1)


def _nhs_cell(rng: random.Random) -> tuple[str, str]:
    digits = "".join(rng.choice("0123456789") for _ in range(10))
    style = rng.randrange(3)
    if style == 0:
        cell = f"{digits[:3]} {digits[3:6]} {digits[6:]}"
    elif style == 1:
        cell = f"{digits[:3]}-{digits[3:6]}-{digits[6:]}"
    else:
        cell = digits
    return cell, digits


def _postcode(rng: random.Random) -> str:
    out = rng.choice(["CB", "SW", "LS", "M", "B", "EH"]) + str(rng.randrange(1, 30))
    inward = str(rng.randrange(10)) + "".join(
        rng.choice("ABDEFGHJLNPQRSTUWXYZ") for _ in range(2)
    )
    pc = f"{out} {inward}"
    return pc.lower() if rng.random() < 0.3 else pc


def _icd(rng: random.Random) -> str:
    codes = [
        f"{rng.choice(_ICD_LETTERS)}{rng.randrange(10, 99)}.{rng.randrange(10)}"
        for _ in range(rng.randrange(1, 4))
    ]
    return ",".join(codes)


def _opcs(rng: random.Random) -> str:
    codes = [
        f"{rng.choice(_OPCS_LETTERS)}{rng.randrange(100, 999)}"
        for _ in range(rng.randrange(1, 3))
    ]
    return ",".join(codes)


def _csv_cell(value: str) -> str:
    if any(c in value for c in ',"'):
        return '"' + value.replace('"', '""') + '"'
    return value


def generate_feed(out_dir: str, seed: int, rows: int = FEED_ROWS,
                  files: int = FEED_FILES) -> dict:
    rng = _rng("feed", seed)
    date_pairs: list[tuple[str, str]] = []
    nhs_pairs: list[tuple[str, str]] = []
    quoted = 0
    per_file = -(-rows // files)
    for f in range(files):
        lines = [",".join(FEED_HEADER)]
        for i in range(f * per_file, min(rows, (f + 1) * per_file)):
            local_id = f"R{seed % 1000:03d}{i:07d}"
            surname = rng.choice(_SURNAMES)
            forenames = rng.choice(_FORENAMES)
            if rng.random() < 0.04:
                # a quoted cell: the comma must survive the CSV parse and
                # the :name cleaner turns it into a space
                forenames = f"{forenames}, {rng.choice(_FORENAMES)}"
                quoted += 1
            nhs_cell, nhs_digits = _nhs_cell(rng)
            dob = _EPOCH + datetime.timedelta(days=rng.randrange(0, 30000))
            diag = dob + datetime.timedelta(days=rng.randrange(6000, 30000))
            cells = [
                local_id, surname, forenames, nhs_cell, _postcode(rng),
                rng.choice(_SEXES), dob.strftime("%d/%m/%Y"),
                diag.strftime("%Y%m%d"), _icd(rng), _opcs(rng),
                str(rng.randrange(4)), rng.choice(_SITES),
            ]
            lines.append(",".join(_csv_cell(c) for c in cells))
            date_pairs.append((local_id, dob.isoformat()))
            date_pairs.append((local_id, diag.isoformat()))
            nhs_pairs.append((local_id, nhs_digits))
        with open(os.path.join(out_dir, f"registry_{f:02d}.csv"), "w",
                  encoding="utf-8", newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
    with open(os.path.join(out_dir, "mapping.yml"), "w", encoding="utf-8") as fh:
        fh.write(FEED_MAPPING)
    return {
        "rows": rows,
        "files": files,
        "quoted_rows": quoted,
        "klass_counts": {"Patient": rows, "Tumour": rows},
        "date_fp": crc_sum(date_pairs),
        "nhs_fp": crc_sum(nhs_pairs),
    }


# ---------------------------------------------------------------------------
# media_decode
# ---------------------------------------------------------------------------

def _block_code(rng: random.Random, used: set[int]) -> int:
    """A fresh 64-bit bright/dark block pattern with 16..48 bright blocks,
    so no two images share an average hash by accident."""
    while True:
        code = rng.getrandbits(64)
        if 16 <= bin(code).count("1") <= 48 and code not in used:
            used.add(code)
            return code


def _image_rgb(rng: random.Random, code: int, side: int) -> bytes:
    """8x8 blocks, each bright or dark by one bit of `code`; every pixel
    picks from a small palette of its block's class (textured, but within
    GIF's 256-colour limit, so all lossless codecs hold it exactly)."""
    dark = [tuple(rng.randrange(10, 70) for _ in range(3)) for _ in range(8)]
    bright = [tuple(rng.randrange(180, 250) for _ in range(3)) for _ in range(8)]
    cell = side // 8
    out = bytearray()
    for y in range(side):
        for x in range(side):
            bit = (code >> (63 - ((y // cell) * 8 + x // cell))) & 1
            out.extend(rng.choice(bright if bit else dark))
    return bytes(out)


def _encode(codec: str, side: int, rgb: bytes) -> bytes:
    from ndr_import_spark.functions.bmp import encode_bmp
    from ndr_import_spark.functions.gif import encode_gif
    from ndr_import_spark.functions.jpeg import encode_jpeg
    from ndr_import_spark.functions.png import encode_png
    from ndr_import_spark.functions.tiff import encode_tiff
    from ndr_import_spark.functions.webp import encode_webp

    enc = {
        "png": encode_png, "gif": encode_gif, "bmp": encode_bmp,
        "tiff": encode_tiff, "webp": encode_webp, "jpeg": encode_jpeg,
    }[codec]
    return enc(side, side, rgb)


def generate_media(out_dir: str, seed: int, images: int = MEDIA_IMAGES,
                   side: int = MEDIA_SIDE, dup_groups: int | None = None,
                   files: int = MEDIA_FILES) -> dict:
    """`dup_groups` defaults to one planted group per 20 images."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng("media_decode", seed)
    if dup_groups is None:
        dup_groups = images // 20
    used: set[int] = set()
    # planted groups: one picture in 2-3 distinct lossless codecs
    slots: list[tuple[str, int]] = []  # (codec, group or -1)
    for g in range(dup_groups):
        for codec in rng.sample(LOSSLESS, rng.choice((2, 3))):
            slots.append((codec, g))
    while len(slots) < images:
        slots.append((CODECS[len(slots) % len(CODECS)], -1))
    rng.shuffle(slots)

    group_rgb: dict[int, bytes] = {}
    group_ids: dict[int, list[int]] = {}
    ids, payloads, codec_of = [], [], []
    for media_id, (codec, g) in enumerate(slots):
        if g < 0:
            rgb = _image_rgb(rng, _block_code(rng, used), side)
        else:
            if g not in group_rgb:
                group_rgb[g] = _image_rgb(rng, _block_code(rng, used), side)
            rgb = group_rgb[g]
            group_ids.setdefault(g, []).append(media_id)
        ids.append(media_id)
        payloads.append(_encode(codec, side, rgb))
        codec_of.append(codec)

    table = pa.table({
        "media_id": pa.array(ids, pa.int64()),
        "kind": pa.array(["image"] * len(ids), pa.string()),
        "payload": pa.array(payloads, pa.binary()),
    })
    media_dir = os.path.join(out_dir, "media.parquet")
    os.makedirs(media_dir)
    per_file = -(-len(ids) // files)
    for f in range(files):
        pq.write_table(table.slice(f * per_file, per_file),
                       os.path.join(media_dir, f"part-{f:02d}.parquet"),
                       row_group_size=128, compression="none")
    groups = sorted(sorted(v) for v in group_ids.values())
    return {
        "payloads": len(ids),
        "side": side,
        "codec_counts": {c: codec_of.count(c) for c in CODECS},
        "width_sums": {c: side * codec_of.count(c) for c in CODECS},
        "height_sums": {c: side * codec_of.count(c) for c in CODECS},
        "codec_of": "".join(str(CODECS.index(c)) for c in codec_of),
        "dup_groups": groups,
    }


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

_SENTENCE_LENGTHS = (5, 6, 4, 7, 5, 6, 5, 7, 6)
_DIRTY = (
    " caf\u00c3\u00a9",   # UTF-8 read as Latin-1
    " cafe\u0301",          # decomposed accent
    " ca\u200bf\u00e9",    # zero-width space
    " caf\u00e9",           # already clean
)


def _vocab(rng: random.Random, n: int = 6000) -> list[str]:
    syll = ["ka", "lo", "mi", "ran", "te", "su", "vor", "del", "pi", "qua",
            "ne", "shi", "tor", "ble", "gra", "zu", "fen", "ho", "wix", "ul"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syll) for _ in range(rng.randrange(2, 4))))
    return sorted(words)


def _sentences(words: list[str], end: str, dirty: str) -> list[str]:
    """Sentences of fixed lengths; the last one carries the unicode artifact."""
    out, pos = [], 0
    for ln in _SENTENCE_LENGTHS:
        out.append(" ".join(words[pos:pos + ln]))
        pos += ln
    out[-1] += dirty
    return [s + end for s in out]


def _page(sentences: list[str], extra: str) -> str:
    half = len(sentences) // 2
    return (
        '<html><body><div id="nav"><a href="/">Home</a> '
        '<a href="/tags">Tags</a></div><p>'
        + " ".join(sentences[:half])
        + "</p><p>"
        + " ".join(sentences[half:])
        + ' <a href="/next">next post.</a></p>'
        + extra
        + '<div id="f"><a href="/c">Contact</a> '
        '<a href="/p">Privacy</a></div></body></html>'
    )


def generate_corpus(out_dir: str, seed: int, pages: int = CORPUS_PAGES) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng("corpus_dedup", seed)
    vocab = _vocab(rng)
    n_words = sum(_SENTENCE_LENGTHS)
    words_of: list[list[str]] = []
    kinds: list[str] = []  # orig | exact | near | dropped
    html: list[str] = []
    exact, near, dropped = [], [], []
    for doc_id in range(pages):
        roll = rng.random()
        prev = doc_id - 1 - rng.randrange(min(doc_id, 50)) if doc_id else -1
        if prev >= 0 and kinds[prev] == "orig" and roll < 0.05:
            # exact copy: same words, '!' endings — C4 keeps both (every
            # sentence differs), dedup normalisation makes them equal
            words = words_of[prev]
            kind, end = "exact", "!"
            dirty = _DIRTY[prev % len(_DIRTY)]
            exact.append(doc_id)
        elif prev >= 0 and kinds[prev] == "orig" and roll < 0.10:
            # near copy: words shifted by one — every sentence differs,
            # shingle overlap stays high
            words = words_of[prev][1:] + [rng.choice(vocab)]
            kind, end = "near", "."
            dirty = _DIRTY[prev % len(_DIRTY)]
            near.append(doc_id)
        else:
            words = [rng.choice(vocab) for _ in range(n_words)]
            kind, end = "orig", "."
            dirty = _DIRTY[doc_id % len(_DIRTY)]
            if roll > 0.97:
                kind = "dropped"
                dropped.append(doc_id)
        extra = ""
        if kind == "dropped":
            extra = ("<p>lorem ipsum dolor sit amet consectetur adipiscing "
                     "elit sed do work.</p>")
        elif rng.random() < 0.2:
            extra = ("<p>please enable javascript to continue viewing all "
                     "of the content on this page.</p>")
        words_of.append(words)
        kinds.append(kind)
        html.append(_page(_sentences(words, end, dirty), extra))

    table = pa.table({
        "doc_id": pa.array(range(pages), pa.int64()),
        "html": pa.array(html, pa.string()),
    })
    pq.write_table(table, os.path.join(out_dir, "pages.parquet"),
                   row_group_size=256, compression="none")
    return {
        "pages": pages,
        "exact_copies": exact,
        "near_copies": near,
        "c4_dropped": dropped,
    }


GENERATORS = {
    "feed": generate_feed,
    "media_decode": generate_media,
    "corpus_dedup": generate_corpus,
}


def ensure_inputs(data_root: str, workload: str, seed: int,
                  scale: int = 1) -> tuple[str, dict]:
    """Generate the inputs for (workload, seed, scale) once; later calls
    reuse them. `scale` multiplies the workload's input size.

    Only the newest inputs per workload are kept on disk. Returns the input
    directory and the checker facts."""
    import shutil

    base = os.path.join(data_root, "inputs", workload)
    out_dir = os.path.join(base, f"seed-{seed}-x{scale}")
    facts_path = os.path.join(out_dir, "facts.json")
    if os.path.exists(facts_path):
        with open(facts_path, encoding="utf-8") as fh:
            return out_dir, json.load(fh)
    if os.path.isdir(base):
        shutil.rmtree(base)
    os.makedirs(out_dir)
    size = {SIZE_ARG[workload]: INPUT_RECORDS[workload] * scale}
    facts = GENERATORS[workload](out_dir, seed, **size)
    with open(facts_path + ".tmp", "w", encoding="utf-8") as fh:
        json.dump(facts, fh)
    os.replace(facts_path + ".tmp", facts_path)
    return out_dir, facts
