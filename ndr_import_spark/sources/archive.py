"""Archive expansion — zip / 7z (reference: lib/ndr_import/file/zip.rb,
seven_zip.rb: extract entries matching `pattern` to `unzip_path`, recurse
into Registry.files; archives yield FILES, never tables).

Spark cannot scan zip members natively, so expansion happens on the driver
(same as the reference) into `unzip_path` (default `.tmp/unzip` under the
CWD), then re-enters `read_tables` — recursion handles zip-of-zip.
"""

from __future__ import annotations

import os
import re
import zipfile

from pyspark.sql import SparkSession

from ndr_import_spark.sources.common import list_input_files, local_frame
from ndr_import_spark.sources.registry import Registry, read_tables


def expand_zip(path: str, pattern: str | None = None, unzip_path: str | None = None) -> list[str]:
    dest = unzip_path or os.path.join(os.getcwd(), ".tmp", "unzip")
    os.makedirs(dest, exist_ok=True)
    out: list[str] = []
    with zipfile.ZipFile(path) as zf:
        for info in zf.infolist():
            if info.is_dir():
                continue
            name = os.path.basename(info.filename)
            if pattern and not re.search(pattern, name):
                continue
            target = os.path.join(dest, name)
            with zf.open(info) as src, open(target, "wb") as dst:
                dst.write(src.read())
            out.append(target)
    return out


def read_zip(spark: SparkSession, path: str | list[str], options: dict):
    files = list_input_files(spark, path)
    tables = []
    for f in files:
        for extracted in expand_zip(f, options.get("pattern"), options.get("unzip_path")):
            tables.extend(read_tables(spark, extracted, options.get("inner_format"), options))
    return tables


def read_seven_zip(spark: SparkSession, path: str | list[str], options: dict):
    """7z expansion (seven_zip.rb:10-70): extract members matching `pattern`
    (basename-only, per the reference's path-stripping), honour `password`
    (7zAES-256), recurse each member through the registry."""
    from ndr_import_spark.sources.sevenzip import expand_seven_zip

    files = list_input_files(spark, path)
    tables = []
    for f in files:
        for extracted in expand_seven_zip(
            f,
            pattern=options.get("pattern"),
            unzip_path=options.get("unzip_path"),
            password=options.get("password"),
        ):
            tables.extend(read_tables(spark, extracted, options.get("inner_format"), options))
    return tables


def expand_tar(
    path: str, pattern: str | None = None, unzip_path: str | None = None
) -> list[str]:
    """Extract tar members (plain / .tar.gz / .tar.bz2 / .tar.xz — the
    stdlib sniffs the compression) matching `pattern` on basename into
    `unzip_path`, mirroring the zip flow. Beyond the reference's zip/7z
    surface: crawl dumps and dataset releases overwhelmingly ship as
    tarballs. Members are vetted against path traversal before write."""
    import tarfile

    dest = unzip_path or os.path.join(os.getcwd(), ".tmp", "unzip")
    os.makedirs(dest, exist_ok=True)
    out: list[str] = []
    with tarfile.open(path, "r:*") as tf:
        for member in tf.getmembers():
            if not member.isfile():
                continue
            name = os.path.basename(member.name)
            if not name or name in (".", ".."):
                continue
            if pattern and not re.search(pattern, name):
                continue
            # preserve the member's directory structure (unlike zip, whose
            # basename flattening mirrors the reference): sharded dumps
            # legitimately repeat basenames (part-0/data.csv,
            # part-1/data.csv) and flattening would silently overwrite.
            # Normalise and re-anchor the path so ../ and absolute member
            # names cannot escape dest.
            rel = os.path.normpath(member.name).lstrip("/")
            # traversal check on path COMPONENTS: a member legitimately
            # named '..data.csv' is not an escape
            if rel == ".." or rel.startswith("../") or os.path.isabs(rel):
                continue
            # Hadoop input formats treat dot/underscore-prefixed files as
            # hidden and silently skip them at scan time — rename such
            # members (documented, content-preserving) so their rows are
            # not silently lost downstream
            d, base = os.path.split(rel)
            if base.startswith((".", "_")):
                # injective rename: encode each leading '.'/'_' as a
                # distinct marker instead of lstrip-ing them all, so
                # '.data.csv', '_data.csv' and '__data.csv' in one
                # directory stay distinct members rather than colliding
                # on 'unhidden_data.csv' and silently overwriting.
                i = 0
                while i < len(base) and base[i] in "._":
                    i += 1
                prefix = base[:i].replace(".", "d").replace("_", "u")
                base = f"unhidden_{prefix}_{base[i:]}"
                rel = os.path.join(d, base) if d else base
            target = os.path.join(dest, rel)
            if os.path.commonpath([os.path.abspath(target), os.path.abspath(dest)]) != os.path.abspath(dest):
                continue
            os.makedirs(os.path.dirname(target) or dest, exist_ok=True)
            src = tf.extractfile(member)
            if src is None:
                continue
            with src, open(target, "wb") as dst:
                dst.write(src.read())
            out.append(target)
    return out


def read_tar(spark: SparkSession, path: str | list[str], options: dict):
    files = list_input_files(spark, path)
    tables = []
    for f in files:
        for extracted in expand_tar(
            f, options.get("pattern"), options.get("unzip_path")
        ):
            tables.extend(
                read_tables(spark, extracted, options.get("inner_format"), options)
            )
    return tables


def _expand_compressed(
    path: str,
    unzip_path: str | None,
    suffixes: tuple[str, ...],
    decomp,
) -> str:
    """Shared whole-file decompress-to-disk flow for .zst/.lz4/.snappy.

    The expansion target is qualified by a digest of the SOURCE path:
    sharded inputs legitimately repeat basenames (part-0/data.jsonl.zst,
    part-1/data.jsonl.zst) and the Spark reads are lazy, so flattening
    to one shared basename would silently read the last-written shard
    twice (the same hazard expand_tar documents for its members). The
    FULL md5 hexdigest is used — a truncated digest re-opens exactly the
    collision this digest exists to prevent at large shard counts."""
    import hashlib as _hl

    dest = unzip_path or os.path.join(os.getcwd(), ".tmp", "unzip")
    dest = os.path.join(dest, _hl.md5(os.path.abspath(path).encode()).hexdigest())
    os.makedirs(dest, exist_ok=True)
    inner = os.path.basename(path)
    if inner.lower().endswith(suffixes):
        inner = inner[: inner.rfind(".")]
    else:
        inner += ".bin"
    target = os.path.join(dest, inner)
    with open(path, "rb") as f:
        data = decomp(f.read())
    with open(target, "wb") as f:
        f.write(data)
    return target


def expand_zstd(
    path: str, unzip_path: str | None = None, dictionary: bytes | None = None
) -> str:
    """Decompress a `.zst` file with the clean-room RFC 8878 decoder
    (functions/zstd.py) and return the inner file's path. The inner
    format then dispatches through the registry as usual, so
    `.jsonl.zst` (the Pile/RedPajama/Dolma shard shape), `.csv.zst`,
    `.warc.zst` and `.tar.zst` all compose from existing readers —
    decompress once, dispatch on what remains. `dictionary` (r8) is a
    ZDICT-format or raw-content blob for dictionary-compressed shards
    (RFC 8878 §5)."""
    from ndr_import_spark.functions.zstd import ZstdDict, decompress

    zd = ZstdDict(dictionary) if dictionary is not None else None
    return _expand_compressed(
        path, unzip_path, (".zst", ".zstd"),
        lambda data: decompress(data, dictionary=zd),
    )


def read_zstd(spark: SparkSession, path: str | list[str], options: dict):
    files = list_input_files(spark, path)
    # dictionary-compressed shard corpora: options["zstd_dictionary"] is
    # the dictionary blob (bytes) or a local path to one
    dic = options.get("zstd_dictionary")
    if isinstance(dic, str):
        with open(dic, "rb") as f:
            dic = f.read()
    tables = []
    for f in files:
        extracted = expand_zstd(f, options.get("unzip_path"), dictionary=dic)
        tables.extend(
            read_tables(spark, extracted, options.get("inner_format"), options)
        )
    return tables


def expand_lz4(path: str, unzip_path: str | None = None) -> str:
    """Decompress a `.lz4` frame file with the clean-room decoder
    (functions/lz4.py) and return the inner file's path — the same
    dispatch-on-what-remains shape as expand_zstd."""
    from ndr_import_spark.functions.lz4 import decompress_frame

    return _expand_compressed(path, unzip_path, (".lz4",), decompress_frame)


def read_lz4(spark: SparkSession, path: str | list[str], options: dict):
    files = list_input_files(spark, path)
    tables = []
    for f in files:
        extracted = expand_lz4(f, options.get("unzip_path"))
        tables.extend(
            read_tables(spark, extracted, options.get("inner_format"), options)
        )
    return tables


def read_jsonl_zst_distributed(
    spark: SparkSession,
    paths: list[str],
    dictionary: bytes | None = None,
):
    """Executor-side `.jsonl.zst` shard ingest — the 100 TB path.

    The registry's `.zst` flow (expand_zstd → read_tables) mirrors the
    reference's archive semantics: the DRIVER decompresses one file and
    re-dispatches. Right for a handful of operator-submitted archives;
    wrong for a corpus of thousands of shards, where the driver becomes
    the decompression bottleneck and the decompressed copies hit local
    disk. Here the shard list is the DataFrame: one task per shard
    decompresses in-executor with the clean-room decoder
    (functions/zstd.py) and emits the same (source_file, row_index,
    cells_map) contract the jsonl reader produces — no driver bytes, no
    intermediate files, shard-count parallelism. Contract parity with
    read_jsonl (r7 ADVICE): JSON null → NULL map value, integer scalars
    keep their raw token text, booleans are "true"/"false", nested
    objects/arrays re-serialize compactly, and row_index counts every
    physical line (blank lines consume an index and are then dropped,
    matching read_lines_df's index-then-filter order). One deliberate
    divergence, in fidelity's favour: FLOAT tokens keep their raw source
    text here (1.50 stays "1.50"), whereas from_json parses them to
    double and re-renders ("1.5") — measured on Spark 4.1, where the
    "from_json keeps raw text" folklore only holds for integers.

    `dictionary` (r8): a zstd dictionary blob shared by every shard
    (RFC 8878 §5 — the shape dictionary-trained corpus repacks ship).
    Shipped to executors via closure capture and parsed once per task,
    not once per frame.
    """
    import pandas as pd

    src = local_frame(spark, [(p,) for p in paths], "path string")

    def expand(batches):
        import json

        from ndr_import_spark.functions.zstd import ZstdDict, decompress

        zd = ZstdDict(dictionary) if dictionary is not None else None

        class _RawNum(str):
            """Numeric JSON token kept as its raw source text."""

        decoder = json.JSONDecoder(parse_float=_RawNum, parse_int=_RawNum)

        def dump_nested(v):
            if isinstance(v, _RawNum):
                return str(v)
            if v is None:
                return "null"
            if v is True:
                return "true"
            if v is False:
                return "false"
            if isinstance(v, str):
                return json.dumps(v)
            if isinstance(v, list):
                return "[" + ",".join(dump_nested(x) for x in v) + "]"
            if isinstance(v, dict):
                return "{" + ",".join(
                    json.dumps(k) + ":" + dump_nested(x) for k, x in v.items()
                ) + "}"
            return json.dumps(v)

        def cell(v):
            if v is None:
                return None
            if isinstance(v, _RawNum):
                return str(v)
            if isinstance(v, str):
                return v
            if v is True:
                return "true"
            if v is False:
                return "false"
            return dump_nested(v)

        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                with open(path, "rb") as f:
                    text = decompress(f.read(), dictionary=zd).decode("utf-8")
                # a trailing newline terminates the last record rather than
                # opening a blank line — mirror spark.read.text, which emits
                # no row for it
                if text.endswith("\n"):
                    text = text[:-1]
                # split on \n ONLY (plus \r\n tolerance): JSONL records
                # may legally contain unescaped U+2028/U+2029/U+0085
                # inside strings, which str.splitlines() would break on
                for idx, line in enumerate(text.split("\n")):
                    line = line.rstrip("\r")
                    if not line.strip():
                        continue
                    obj = decoder.decode(line)
                    cells = {k: cell(v) for k, v in obj.items()}
                    rows.append((path, idx, cells))
            yield pd.DataFrame(rows, columns=["source_file", "row_index", "cells_map"])

    return src.repartition(max(1, min(len(paths), 4096)), "path").mapInPandas(
        expand, "source_file string, row_index long, cells_map map<string,string>"
    )


def expand_snappy(path: str, unzip_path: str | None = None) -> str:
    """Decompress a Hadoop-framed `.snappy` file (the SnappyCodec
    on-disk shape) with the clean-room decoder and return the inner
    file's path — same dispatch-on-what-remains flow as .zst/.lz4."""
    from ndr_import_spark.functions.snappy import decompress_hadoop

    return _expand_compressed(path, unzip_path, (".snappy",), decompress_hadoop)


def read_snappy(spark: SparkSession, path: str | list[str], options: dict):
    files = list_input_files(spark, path)
    tables = []
    for f in files:
        extracted = expand_snappy(f, options.get("unzip_path"))
        tables.extend(
            read_tables(spark, extracted, options.get("inner_format"), options)
        )
    return tables


Registry.register(read_zip, "zip")
Registry.register(read_seven_zip, "7z")
Registry.register(read_tar, "tar", "tgz")
Registry.register(read_zstd, "zst", "zstd")
Registry.register(read_lz4, "lz4")
Registry.register(read_snappy, "snappy")
