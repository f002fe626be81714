"""File-system ingestion (S1/S2/S3, SURVEY §2.1).

Reference behaviors → Spark ``binaryFile`` source options:

- single-file scan with 128 MB read buffers (Fragment, encoder.c:1035-1207)
  → one DataFrame row per file; Spark handles buffering. NOTE: like the
  reference's per-buffer anchoring, our chunker treats each file as one
  in-memory buffer — files larger than executor memory should be pre-split
  (the reference has the same practical bound via MAXBUF);
- directory scan skipping dotfiles (new_dedup.c:925-1107, filters 963-973)
  → ``pathGlobFilter`` + an explicit name predicate (P1);
- recursive image directory walk (scan_dir, ferret-pthreads.c:330-433)
  → ``recursiveFileLookup=true``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_files(
    spark: SparkSession,
    path: str,
    recursive: bool = True,
    glob: str | None = None,
    skip_dotfiles: bool = True,
    streaming: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """→ (file_id, file_name, length, content). file_id is a dense rank over
    the path (deterministic for a fixed listing), mirroring the reference's
    per-file idx_file (dedupdef.h:178)."""
    reader = spark.readStream if streaming else spark.read
    reader = reader.format("binaryFile").option("recursiveFileLookup", str(recursive).lower())
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if streaming and max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.load(path)
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    if skip_dotfiles:
        df = df.filter(~name.startswith("."))  # P1, new_dedup.c:963-973
    out = df.select(
        F.col("path").alias("file_path"),
        name.alias("file_name"),
        F.col("length"),
        F.col("content"),
    )
    if streaming:
        # streams can't window-rank; derive a stable id from the path hash
        return out.withColumn("file_id", F.xxhash64("file_path"))
    from pyspark.sql import Window

    # Rank a PATHS-ONLY projection, then broadcast-join the (file_path,
    # file_id) map back onto the content rows. Ranking `out` directly
    # would funnel every file's bytes through the single unpartitioned
    # window task before chunking even starts — a 100×-scale killer on
    # the ingest path. The paths-only branch prunes `content` at the
    # binaryFile scan (no bytes read), the window sorts only strings,
    # and the map is one row per file → broadcastable. The reference
    # keeps its Fragment stage minimal for the same reason
    # (apps/dedup/src/encoder.c:989-996).
    w = Window.orderBy("file_path")
    ranked = (
        df.select(F.col("path").alias("file_path"))
        .withColumn("file_id", F.row_number().over(w).cast("long") - 1)
    )
    return out.join(F.broadcast(ranked), "file_path")


def read_tar_members(spark: SparkSession, path: str, skip_dotfiles: bool = True) -> DataFrame:
    """S2 TAR-input parity: the reference's benchmark inputs are TAR
    archives whose members become the per-file dedup domain
    (new_dedup.c:925-1107, input classes bin/parsec_stream:30-39).

    Each .tar is one binaryFile row; a mapInPandas stage expands members
    into (file_id, file_name, content) rows — archives parallelize across
    executors, members stream within one (the reference's own
    serial-within/parallel-across split)."""
    import io
    import tarfile
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    tars = spark.read.format("binaryFile").option("pathGlobFilter", "*.tar").load(path)

    schema = StructType(
        [
            StructField("tar_path", StringType()),
            StructField("file_name", StringType()),
            StructField("member_idx", LongType()),
            StructField("content", BinaryType()),
        ]
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("tar_path", "file_name", "member_idx", "content")}
            for tpath, blob in zip(pdf["path"], pdf["content"]):
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
                    idx = 0
                    for m in tf.getmembers():
                        if not m.isfile():
                            continue  # P2: regular files only
                        base = m.name.rsplit("/", 1)[-1]
                        if skip_dotfiles and base.startswith("."):
                            continue  # P1
                        rows["tar_path"].append(tpath)
                        rows["file_name"].append(m.name)
                        rows["member_idx"].append(idx)
                        rows["content"].append(tf.extractfile(m).read())
                        idx += 1
            yield pd.DataFrame(rows)

    expanded = tars.select("path", "content").mapInPandas(expand, schema)
    return expanded.withColumn(
        "file_id", F.xxhash64("tar_path", "file_name")
    )


def read_zip_members(
    spark: SparkSession, path: str, skip_dotfiles: bool = True
) -> DataFrame:
    """ZIP sibling of :func:`read_tar_members` — same schema, same
    parallel-across/serial-within split, same P1/P2 member filters — for
    datasets delivered as .zip bundles (the other archive format crawl
    dumps and scraped corpora actually arrive in). Directory entries and
    dotfile members are dropped before any bytes are decoded; a malformed
    archive raises a typed ValueError naming the file."""
    import io
    import zipfile
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    zips = spark.read.format("binaryFile").option("pathGlobFilter", "*.zip").load(path)

    schema = StructType(
        [
            StructField("zip_path", StringType()),
            StructField("file_name", StringType()),
            StructField("member_idx", LongType()),
            StructField("content", BinaryType()),
        ]
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("zip_path", "file_name", "member_idx", "content")}
            for zpath, blob in zip(pdf["path"], pdf["content"]):
                try:
                    zf = zipfile.ZipFile(io.BytesIO(bytes(blob)))
                except zipfile.BadZipFile as e:
                    raise ValueError(f"malformed zip {zpath}: {e}") from e
                with zf:
                    idx = 0
                    for m in zf.infolist():
                        if m.is_dir():
                            continue  # P2: regular files only
                        base = m.filename.rsplit("/", 1)[-1]
                        if skip_dotfiles and base.startswith("."):
                            continue  # P1
                        try:
                            data = zf.read(m)
                        except (zipfile.BadZipFile, NotImplementedError) as e:
                            raise ValueError(
                                f"malformed zip member {m.filename} in {zpath}: {e}"
                            ) from e
                        rows["zip_path"].append(zpath)
                        rows["file_name"].append(m.filename)
                        rows["member_idx"].append(idx)
                        rows["content"].append(data)
                        idx += 1
            yield pd.DataFrame(rows)

    expanded = zips.select("path", "content").mapInPandas(expand, schema)
    return expanded.withColumn(
        "file_id", F.xxhash64("zip_path", "file_name")
    )
