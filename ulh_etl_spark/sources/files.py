"""Staged-file sources (reference S1-S3).

The reference lists files in an external stage with
``LIST @stage PATTERN='regex'`` and loads each CSV via COPY-style
reads with per-feed options (RAW_ADLS_TO_RAW_SNOWFLAKE.py:662-691),
plus a raw-line file format for header/sample probing
(ADLS_FILE_PRECHECK.py:789-824). Spark equivalents: Hadoop
FileSystem listing + ``spark.read.csv``, with the few header/sample
lines read on the driver through a Hadoop stream and line counts from
one ``spark.read.text`` job.

Scale: listing uses the JVM FileSystem API (works on HDFS/S3/ABFS
URIs unchanged); CSV reads and line counts pass explicit file lists so
per-file lineage survives without per-file jobs — ``input_file_name()``
tags every row with its source file in one distributed read.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class FileInfo:
    """Stage-listing row (name, size, last_modified) — the metadata
    tuple the reference's LIST returns."""

    path: str
    name: str
    size: int
    modification_time: int


# The reference's CSV option set (S2, RAW_ADLS_TO_RAW_SNOWFLAKE.py:
# 675-691), minus the per-feed delimiter: quoted fields, header, trim
# surrounding whitespace, tolerate malformed rows. ``csv_scan`` and the
# streaming file source both read with it, so a file parses the same
# way batch or streamed.
CSV_OPTIONS = {
    "quote": '"',
    "escape": '"',
    "header": True,
    "ignoreLeadingWhiteSpace": True,
    "ignoreTrailingWhiteSpace": True,
    "mode": "PERMISSIVE",
}


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(conf), hpath, jvm


def list_stage_files(
    spark: SparkSession,
    directory: str,
    pattern: str | None = None,
) -> list[FileInfo]:
    """List files under ``directory``, client-side regex filter on the
    file name (reference S1: LIST + ``re.search`` with IGNORECASE,
    ADLS_FILE_PRECHECK.py:702-742). Works on any Hadoop-supported
    filesystem (local/HDFS/S3/ABFS)."""
    fs, hpath, _ = _hadoop_fs(spark, directory)
    if not fs.exists(hpath):
        return []
    rx = re.compile(pattern, re.IGNORECASE) if pattern else None
    out: list[FileInfo] = []
    for status in fs.listStatus(hpath):
        if not status.isFile():
            continue
        name = status.getPath().getName()
        if rx and not rx.search(name):
            continue
        out.append(
            FileInfo(
                path=status.getPath().toString(),
                name=name,
                size=status.getLen(),
                modification_time=status.getModificationTime(),
            )
        )
    return sorted(out, key=lambda f: f.name)


def csv_scan(
    spark: SparkSession,
    paths: list[str] | str,
    delimiter: str = ",",
    with_file_name: bool = True,
) -> DataFrame:
    """CSV scan with ``CSV_OPTIONS`` and the config delimiter; every
    column is a string (no inference job). ``with_file_name`` adds
    per-row provenance via ``input_file_name()`` — replacing the
    reference's per-file read loop with one distributed scan
    (SURVEY §4)."""
    reader = spark.read.options(**CSV_OPTIONS).option("sep", delimiter)
    df = reader.csv(paths if isinstance(paths, list) else [paths])
    if with_file_name:
        df = df.withColumn("file_name", F.input_file_name())
    return df


# jsonl_scan's in-schema column for lines that fail to parse.
_CORRUPT_COL = "_corrupt_record"


def jsonl_scan(
    spark: SparkSession,
    paths: list[str] | str,
    schema: str,
) -> "tuple[DataFrame, DataFrame]":
    """Typed JSON-lines scan with corrupt-record quarantine — the
    standard entry point for web-scrape training corpora (one JSON
    doc per line, schema declared up front, garbage lines preserved
    rather than silently dropped).

    Returns (good, quarantine): ``good`` has the declared schema plus
    a ``file_name`` provenance column; ``quarantine`` carries the raw
    unparseable line and its file for triage — mirroring the precheck
    suite's reject-don't-drop stance on CSV (SURVEY §2.8).
    Schema-on-read: no inference job over 100 TB.

    Implementation: text scan + ``from_json`` carrying an in-schema
    corrupt-record column, rather than the native JSON reader's
    _corrupt_record — which Spark forbids querying on its own without
    caching the whole scan (SPARK-21610), a non-starter at corpus
    scale. Malformed JSON AND lines whose fields fail the declared
    types both land in the corrupt column (quarantined with the raw
    line preserved).
    """
    raw = spark.read.text(paths if isinstance(paths, list) else [paths])
    parsed = raw.select(
        F.from_json(
            F.col("value"),
            f"{schema}, {_CORRUPT_COL} STRING",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT_COL},
        ).alias("_j"),
        F.col("value"),
        F.input_file_name().alias("file_name"),
    )
    bad = F.col("_j").isNull() | F.col(f"_j.{_CORRUPT_COL}").isNotNull()
    good = parsed.filter(~bad).select("_j.*", "file_name").drop(_CORRUPT_COL)
    quarantine = parsed.filter(bad).select(
        F.col("value").alias("raw_line"), "file_name"
    )
    return good, quarantine


# Bytes head_lines reads before giving up on finding its lines.
_HEAD_MAX_BYTES = 16 << 20
_HEAD_CHUNK = 64 << 10


def _open(spark: SparkSession, path: str, decompress: bool):
    """Hadoop input stream over ``path``; with ``decompress`` it goes
    through the codec the file's extension names, as Spark's text
    reader does."""
    fs, hpath, jvm = _hadoop_fs(spark, path)
    stream = fs.open(hpath)
    if decompress:
        codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
            spark.sparkContext._jsc.hadoopConfiguration()
        ).getCodec(hpath)
        if codec is not None:
            stream = codec.createInputStream(stream)
    return stream


def head_lines(spark: SparkSession, path: str, n: int) -> list[str]:
    """First ``n`` physical lines (header + sample probing,
    ADLS_FILE_PRECHECK.py:798-824), read on the driver: no Spark job.

    Lines split on LF, CRLF and CR, as Hadoop's ``LineRecordReader``
    splits them for ``spark.read.text``. Unlike that reader this one
    keeps a byte-order mark: bytes that are not UTF-8 (a UTF-16 BOM,
    say) decode to surrogate escapes, so
    ``line.encode("utf-8", "surrogateescape")`` gives the raw bytes
    back. Raises ``ValueError`` when ``n`` lines are not complete
    within the first 16 MiB."""
    stream = _open(spark, path, decompress=True)
    try:
        buf = b""
        while True:
            chunk = bytes(stream.readNBytes(max(_HEAD_CHUNK, len(buf))))
            buf += chunk
            lines = buf.splitlines()
            # a line is complete once a later one starts (a trailing
            # CR may still be the first half of a CRLF) or at EOF
            if not chunk or len(lines) > n:
                break
            if len(buf) > _HEAD_MAX_BYTES:
                raise ValueError(
                    f"first {n} lines not found in {_HEAD_MAX_BYTES} bytes"
                )
    finally:
        stream.close()
    return [ln.decode("utf-8", errors="surrogateescape") for ln in lines[:n]]


def count_lines(spark: SparkSession, paths: list[str]) -> dict[str, int]:
    """Physical line count of every file in ``paths``, from ONE
    distributed read of them all (0 for an empty file). A file whose
    bytes the codec cannot read counts only the lines before the fault
    (``ignoreCorruptFiles``) instead of failing every file's count;
    the precheck reports such a file through ``head_lines``."""
    if not paths:
        return {}
    counts = (
        spark.read.option("ignoreCorruptFiles", True)
        .text(paths)
        .groupBy(F.input_file_name().alias("f"))
        .count()
        .collect()
    )
    # input_file_name() is a URI string ("a%20b.csv"); Path(URI) gives
    # the FileSystem path string FileInfo.path carries ("a b.csv")
    jvm = spark.sparkContext._jvm
    by_path = {
        jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(r.f)).toString(): r["count"]
        for r in counts
    }

    def qualified(path: str) -> str:
        fs, hpath, _ = _hadoop_fs(spark, path)
        return fs.makeQualified(hpath).toString()

    return {p: by_path.get(qualified(p), 0) for p in paths}


def head_bytes(spark: SparkSession, path: str, n: int = 4) -> bytes:
    """First ``n`` raw bytes, read without decompression."""
    stream = _open(spark, path, decompress=False)
    try:
        return bytes(stream.readNBytes(n))
    finally:
        stream.close()


def move_file(spark: SparkSession, src: str, dst: str) -> bool:
    """Archive/error file move (K8 — the reference's ADF binary
    copy+delete, archive_inbound_files.json). Uses FileSystem.rename
    when src/dst share a filesystem; creates parent dirs and replaces
    an existing ``dst``."""
    fs, src_path, jvm = _hadoop_fs(spark, src)
    dst_path = jvm.org.apache.hadoop.fs.Path(dst)
    fs.mkdirs(dst_path.getParent())
    if fs.exists(dst_path):
        fs.delete(dst_path, False)
    return bool(fs.rename(src_path, dst_path))
