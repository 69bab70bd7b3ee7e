"""JSONL / CSV corpus ingestion — the interchange formats every
LLM-data pipeline actually receives (Common Crawl derivatives, vendor
drops, annotation exports ship as ``*.jsonl[.gz]`` or CSV far more
often than parquet).

Reference parity note: the reference ingests parquet/CSV per-feature
files (SURVEY §2 S1/S7); the JSONL tier is part of the training-data
extension surface.

Scale rules baked in:

* **Explicit schema, always.**  Schema inference is a full extra scan
  (and samples types non-deterministically) — at 100 TB it doubles the
  read.  Both readers REQUIRE a DDL schema string.
* **Malformed rows never kill the job.**  ``mode="PERMISSIVE"``
  (default) routes corrupt records to ``_corrupt_record`` so one bad
  line in a trillion doesn't fail the run; ``bad_record_count``
  prices the damage for the manifest.  ``mode="FAILFAST"`` is the
  strict option for curated inputs.
* **Compression:** both readers transparently handle ``.gz`` — but
  gzip is NOT splittable (one task per file; fine for many small
  shards, a straggler for one big file).  Prefer zstd/bzip2 or
  pre-sharded files for cluster inputs; the writers emit one file per
  partition, which IS the sharded layout.
* **Multiline safety:** document text routinely contains newlines.
  JSONL escapes them inside the JSON string (line = record holds);
  CSV needs quote-aware parsing — the reader sets ``multiLine=true`` +
  ``escape='"'`` so quoted embedded newlines round-trip.  NB
  multiLine CSV parses a whole FILE per task (no line splitting) —
  shard CSV inputs; JSONL is the scalable text format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slow_tortoise_spark.operators.cachectl import Scope

_CORRUPT = "_corrupt_record"


def write_jsonl(
    df: DataFrame, path: str, compression: str | None = None
) -> None:
    """Write ``df`` as JSON-lines (one object per row, one file per
    partition — the sharded layout gzip needs to stay parallel)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Read JSON-lines with an EXPLICIT schema (DDL string, e.g.
    ``"doc_id long, text string, source string"``).

    PERMISSIVE mode appends ``_corrupt_record``: malformed lines
    surface as rows with all schema fields null and the raw line
    there — count them with :func:`bad_record_count`, filter them
    with :func:`drop_bad_records`."""
    reader = (
        spark.read.schema(f"{schema}, {_CORRUPT} string")
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", _CORRUPT)
    )
    return reader.json(path)


#: CSV null marker: with quoteAll, an EMPTY STRING serializes as "" and
#: null as the unquoted marker, so the read side can tell them apart —
#: the classic CSV null/empty ambiguity, resolved by convention.
_CSV_NULL = "\\N"


def write_csv(
    df: DataFrame, path: str, header: bool = True,
    compression: str | None = None,
) -> None:
    """Write CSV with full quoting (embedded newlines/commas/quotes in
    text survive the round-trip — see the multiLine note above) and the
    ``\\N`` null marker (distinguishes null from empty string)."""
    w = (
        df.write.mode("overwrite")
        .option("header", str(header).lower())
        .option("quoteAll", "true")
        .option("escape", '"')
        .option("nullValue", _CSV_NULL)
    )
    if compression:
        w = w.option("compression", compression)
    w.csv(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Read CSV with an EXPLICIT schema and quote-aware multiline
    parsing (matches :func:`write_csv`'s quoting + null marker).  Same
    PERMISSIVE / ``_corrupt_record`` contract as :func:`read_jsonl`."""
    reader = (
        spark.read.schema(f"{schema}, {_CORRUPT} string")
        .option("header", str(header).lower())
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .option("multiLine", "true")
        .option("escape", '"')
        .option("nullValue", _CSV_NULL)
    )
    return reader.csv(path)


def bad_record_count(df: DataFrame) -> int:
    """How many rows failed to parse (PERMISSIVE mode's accounting).

    Spark refuses a JSON/CSV scan whose only referenced column is the
    internal corrupt-record column (SPARK-21610) — the documented
    workaround is to materialize the frame first, so the count runs
    against a short-lived cache."""
    if _CORRUPT not in df.columns:
        return 0
    with Scope() as scope:
        return scope.cache(df).filter(F.col(_CORRUPT).isNotNull()).count()


def drop_bad_records(df: DataFrame) -> DataFrame:
    """Drop unparseable rows and the accounting column — the frame
    every downstream operator should receive."""
    if _CORRUPT not in df.columns:
        return df
    return df.filter(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
