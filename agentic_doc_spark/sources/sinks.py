"""Result sinks (SURVEY.md S8/S9).

The reference writes one timestamped JSON file per document
(agentic_doc/parse.py:453-467) and round-trips it back
(parse.py:201-221). At corpus scale the sink is a table append; JSON
export stays available for drop-in parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agentic_doc_spark.schema import PARSED_DOCUMENT


def write_json_results(parsed: DataFrame, path: str) -> None:
    """S8 JSON-export parity: one JSON object per document, with the
    reference's result naming made a column instead of a filename
    (stem_{yyyyMMdd_HHmmss}, agentic_doc/parse.py:453-454 / F4)."""
    parsed.withColumn(
        "result_name",
        F.concat_ws(
            "_",
            F.col("doc_id"),
            F.date_format(F.current_timestamp(), "yyyyMMdd_HHmmss"),
        ),
    ).write.mode("overwrite").json(path)


def read_parsed_json(spark: SparkSession, path: str) -> DataFrame:
    """Round-trip loader (parse.py:201-221 twin) — re-reads the JSON export
    with the canonical schema (F7: from_json/to_json parity).

    Builds a FRESH StructType: ``PARSED_DOCUMENT.add(...)`` would mutate
    the module-global schema in place (StructType.add is in-place), making
    every later pipeline stage emit a phantom result_name column."""
    from pyspark.sql import types as T

    schema = T.StructType(
        list(PARSED_DOCUMENT.fields)
        + [T.StructField("result_name", T.StringType())]
    )
    return spark.read.schema(schema).json(path)
