"""Source readers (SURVEY.md §2.A A7 / §2.B B1).

The reference reads exactly one source: BigQuery via the Storage API
with Arrow wire format and a `row_restriction` pushdown filter
(bqfetch/bqfetch.py:478-502). The Spark-native equivalent is a Parquet
scan with predicate pushdown + column pruning (the stand-in for the
Storage API; spark-bigquery-connector slots in identically in
production).

``pushed_filters`` exposes what actually reached the scan so tests can
assert pushdown instead of hoping for it.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def pushed_filters(df: DataFrame) -> list[str]:
    """Parse PushedFilters out of the formatted physical plan — the
    scan-level proof that a predicate reached the source. Plan text
    comes via compat.formatted_plan, so this works under Spark Connect
    (explain-capture fallback) as well as classic PySpark."""
    from bqfetch_spark.compat import formatted_plan

    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


# ---------------------------------------------------------------------------
# binaryFile ingestion — the file-per-document crawl/multimodal path
# ---------------------------------------------------------------------------


def text_file_staging_dir(sf_dir: str) -> str:
    """Content-keyed, uid-scoped staging dir for the file-per-doc
    corpus (same path policy as lakehouse.layout_dir_for)."""
    import hashlib
    import tempfile

    norm = os.path.normpath(os.path.abspath(sf_dir))
    key = hashlib.sha1(norm.encode()).hexdigest()[:16]
    parent = os.path.join(tempfile.gettempdir(), f"bqfs_docfiles_u{os.getuid()}")
    os.makedirs(parent, mode=0o700, exist_ok=True)
    return os.path.join(parent, key)


def _documents_fingerprint(sf_dir: str) -> str:
    """Content key for the staged corpus: path + (mtime_ns, size) of
    every parquet part under documents.parquet. Regenerating the
    fixture (even same-sized) changes mtime_ns, so a stale stage is
    detected and rebuilt rather than silently reused."""
    import glob
    import hashlib

    root = os.path.join(sf_dir, "documents.parquet")
    parts = sorted(glob.glob(os.path.join(root, "**"), recursive=True)) or [root]
    h = hashlib.sha1(os.path.normpath(os.path.abspath(sf_dir)).encode())
    for p in parts:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{p}:{st.st_mtime_ns}:{st.st_size}".encode())
    return h.hexdigest()


def stage_document_files(spark, sf_dir: str, out_dir: str) -> str:
    """Materialize `documents` as one UTF-8 ``<doc_id>.txt`` file each —
    the on-disk shape a crawl/scan ingest actually starts from. The
    write is mapInPandas (EXECUTOR-side file IO, one Arrow batch per
    task — never a driver loop over rows); a content-keyed marker
    (parquet mtime/size fingerprint, not just the path) makes
    re-stages no-ops while a regenerated fixture forces a clean
    restage — stale ``<doc_id>.txt`` orphans from the previous corpus
    are removed first. This is scaffolding for the binaryFile scan
    (qx211): in production the files pre-exist and only the scan
    runs."""
    import glob
    import tempfile

    import pandas as pd

    key = _documents_fingerprint(sf_dir)
    marker = os.path.join(out_dir, "_staged_from")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == key:
                return out_dir
        # fingerprint mismatch: the fixture changed — drop orphans
        for stale in glob.glob(os.path.join(out_dir, "*.txt")):
            os.remove(stale)
        os.remove(marker)
    os.makedirs(out_dir, exist_ok=True)

    def write_files(batches):
        for pdf in batches:
            n = 0
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                with open(
                    os.path.join(out_dir, f"{int(doc_id)}.txt"), "w", encoding="utf-8"
                ) as fh:
                    fh.write(text)
                n += 1
            yield pd.DataFrame({"n": [n]})

    # read the parquet directly (not through the catalog memo): a
    # fingerprint mismatch means the files CHANGED, and the memoized
    # DataFrame would hold a stale file listing of the old parts
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    total = (
        docs.mapInPandas(write_files, "n bigint").agg(F.sum("n")).first()[0]
    )
    # temp-file + rename: a crashed stage never leaves a valid marker
    fd, tmp = tempfile.mkstemp(dir=out_dir, prefix="._staged_from.")
    with os.fdopen(fd, "w") as fh:
        fh.write(key)
    os.replace(tmp, marker)
    return out_dir
