"""Table loaders for the driver's parquet test data and files-table adapters.

The engine's canonical input (BASELINE.json input_hint) is
``files(repo string, path string, commit string, lang string, content string)``.
The driver provides TPC-H-ish tables plus ``documents``/``embeddings``;
``documents_as_files`` maps documents onto the files schema so every
pipeline stage can be oracle-checked on driver data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def documents_as_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt documents(doc_id, text, lang, source, n_chars) → files schema.

    repo = source, path = synthetic .txt path keyed by doc_id, commit =
    stable sha prefix of (repo,path), content = text. Deterministic: no
    randomness, ids round-trip (doc_id recoverable from path).
    """
    d = load_table(spark, sf_dir, "documents")
    repo = F.col("source")
    path = F.concat(F.lit("docs/"), F.col("lang"), F.lit("/doc_"), F.col("doc_id").cast("string"), F.lit(".txt"))
    return d.select(
        repo.alias("repo"),
        path.alias("path"),
        F.substring(F.sha2(F.concat_ws("/", repo, path), 256), 1, 40).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )

