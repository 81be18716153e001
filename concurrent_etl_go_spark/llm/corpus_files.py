"""Oracle-backed queries over the LOOSE-FILE front doors
(``sources/readers.py::read_text_corpus`` / ``read_binary_files``).

Both front doors were previously exercised only by pytest; these registry
queries put the file->row plumbing itself under the driver's DuckDB hash
compare. The trick mirrors ``operators/cdc.py``: materialize a
deterministic set of loose files DERIVED FROM the shared ``documents``
table (each executor writes its partition's rows — no driver-side loop),
ingest them through the real reader, and state the expected result in
plain SQL over ``documents`` alone. A reader that dropped a file, split
a document, mangled bytes/encoding, or mis-derived the path would
hash-mismatch.

In production the files already exist (they ARE the corpus); the write
step here is the bounded fixture half, the read half is the code under
test. Scratch dirs are deleted before returning — results are
localCheckpointed (O(docs in the fixture), small by construction) and
freed via ``release_caches()``.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from concurrent_etl_go_spark.operators.registry import checkpoint_and_drop, query
from concurrent_etl_go_spark.sources.readers import (
    read_binary_files,
    read_table,
    read_text_corpus,
)

#: Bounded fixture sizes (doc_id cutoffs) — identical constants appear in
#: the oracle SQL strings below.
_DEDUP_DOCS = 200
_BINARY_DOCS = 100


def _write_files(df: DataFrame, out_dir: str) -> None:
    """Write one loose file per (fname, text) row, executor-side.

    ``foreachPartition`` keeps the materialization distributed (each task
    writes its own rows; no ``collect`` funnels the corpus through the
    driver) — the same shape a real exporter uses against shared
    storage, which local-mode temp dirs stand in for here.
    """
    # Always write BYTES: a text-mode open without encoding= uses the
    # locale's preferred encoding on the executor, so non-ASCII document
    # text would raise UnicodeEncodeError (or round-trip wrongly) on a
    # POSIX/C-locale host while read_text_corpus decodes UTF-8.  Encoding
    # explicitly once covers both the text and binary fixture shapes.
    def write_partition(rows) -> None:
        for row in rows:
            with open(os.path.join(out_dir, row.fname), "wb") as f:
                f.write(row.text.encode("utf-8"))

    os.makedirs(out_dir, exist_ok=True)
    df.foreachPartition(write_partition)


def _fname() -> F.Column:
    """Basename of the source path (built lazily — Column construction
    needs an active SparkContext, and this module imports at package
    load)."""
    return F.element_at(F.split(F.col("path"), "/"), -1)


@query(
    "corpus_file_dedup",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE doc_id < {_DEDUP_DOCS}
    ),
    files AS (
      SELECT 'a_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.txt'
               AS fname, text
      FROM d
      UNION ALL
      SELECT 'b_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.txt',
             text
      FROM d WHERE doc_id % 3 = 0
    )
    SELECT md5(text) AS text_md5,
           min(fname) AS survivor,
           count(*) AS n_copies
    FROM files
    GROUP BY text
    """,
)
def corpus_file_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level exact dedup over the ``read_text_corpus`` front door:
    materialize each fixture document as a loose ``.txt`` file (every
    third document twice, under a second name — planted duplicates on
    top of whatever duplicates the corpus itself contains), ingest the
    directory whole-file, and dedup on exact text, keeping the
    lexicographically-smallest filename as the survivor.

    The oracle reproduces the fixture naming in SQL, so the hash proves
    the whole-file read is lossless (one row per file, bytes intact,
    path carried) AND the dedup grouping — including corpus-native
    duplicate texts that merge ACROSS doc_ids, which a per-file check
    would miss. Scale: the dedup itself is the standard single
    hash-agg on the text key (here raw text; ``dedup_exact`` uses the
    hashed key for wide rows).
    """
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _DEDUP_DOCS
    )
    named = docs.select(
        F.format_string("a_%06d.txt", F.col("doc_id")).alias("fname"),
        "text",
    ).unionByName(
        docs.where(F.col("doc_id") % 3 == 0).select(
            F.format_string("b_%06d.txt", F.col("doc_id")).alias("fname"),
            "text",
        )
    )
    tmp = tempfile.mkdtemp(prefix="cetl_corpus_files_")
    _write_files(named, tmp)

    corpus = read_text_corpus(spark, tmp, pattern="*.txt")
    deduped = (
        corpus.select(_fname().alias("fname"), "text")
        .groupBy("text")
        .agg(
            F.min("fname").alias("survivor"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.md5(F.col("text").cast("binary")).alias("text_md5"),
            "survivor",
            "n_copies",
        )
    )
    return checkpoint_and_drop(deduped, tmp)


@query(
    "multimodal_binary_ingest",
    oracle=f"""
    SELECT 'blob_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.bin'
             AS fname,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents WHERE doc_id < {_BINARY_DOCS}
    """,
)
def multimodal_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the ``binaryFile`` front door: materialize
    fixture blobs (the documents' UTF-8 bytes) as loose ``.bin`` objects,
    ingest via ``read_binary_files``, and emit per-file features — size
    from the source's ``length`` column, content digest, and decoded
    character count.

    The oracle derives every feature from ``documents`` directly, so the
    hash proves the binary source's file->row mapping end to end: one
    row per object, ``length`` consistent with the bytes actually
    delivered in ``content``, bytes uncorrupted (md5), decode intact
    (char count differs from byte count for any non-ASCII text). This is
    the ingestion half of the multimodal pipeline
    (``llm/multimodal.py`` owns the decode/feature UDF half). Scale:
    the source parallelizes by file and prunes on the glob at listing
    time; features are per-row expressions.
    """
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _BINARY_DOCS
    )
    named = docs.select(
        F.format_string("blob_%06d.bin", F.col("doc_id")).alias("fname"),
        "text",
    )
    tmp = tempfile.mkdtemp(prefix="cetl_binary_ingest_")
    _write_files(named, tmp)

    blobs = read_binary_files(spark, tmp, pattern="*.bin")
    features = blobs.select(
        _fname().alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
        F.length(F.decode(F.col("content"), "UTF-8"))
        .cast("long")
        .alias("n_chars"),
    )
    return checkpoint_and_drop(features, tmp)
