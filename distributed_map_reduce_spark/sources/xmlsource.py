"""Native XML ingest surface: ``format("xml")`` files + ``from_xml``.

Spark 4 ships the (formerly spark-xml) XML DataSource built in: a
directory of XML documents is a first-class source/sink like parquet or
json, and ``from_xml`` is the per-row sibling for XML carried inside a
column (the ``from_json``/``parse_json`` analog, q15/q203's family).
This module registers the round-trip query that proves both halves
against the relational oracle:

- WRITE: a documents projection (including a probe string laced with
  XML-special characters) is written as ``rowTag``-delimited XML files;
  the writer escapes ``< & "`` on the way out.
- READ BACK: ``format("xml")`` re-ingests the files, unescaping to the
  original values (the escape/unescape round trip is pinned in
  tests/properties/test_r13_candidate_probes.py).
- PER-ROW PARSE: ``from_xml`` re-extracts typed fields from an XML
  string synthesized off the read-back rows, and the result is checked
  field-by-field against the carried columns — malformed input would
  degrade to NULLs (PERMISSIVE, per the probe) and fail the match
  count.

Scale notes: XML is a textual interchange format, not an analytic one —
the 100 TB posture is exactly this query's shape: ingest XML ONCE
(schema-projected, executor-parallel per file split), convert to
parquet/columnar for everything downstream. The round trip writes only
the five projected columns, never the raw text corpus, and the final
aggregate is an ordinary codegen group-by over the re-ingested frame.

Reference lineage: the reference reads whole text files as opaque
strings (worker.go:222-232) and writes plain-text part files
(worker.go:303-334); a schema-projected interchange format is an
engine-surface gap item (SURVEY §2.3), same rationale as the mrtext
DataSource (sources/pydatasource.py) it sits beside.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import app_scratch_dir
from .tables import load_table


def q217_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest round trip: write a documents projection as native
    XML files, read it back, re-parse a synthesized XML string per row
    with ``from_xml``, and aggregate the re-ingested frame per
    (source, lang). ``n_probe_ok``/``n_id_ok`` count rows whose
    special-character probe string and ``from_xml``-extracted id
    survived the trip exactly — both must equal ``n_docs`` for the
    hash to match the oracle, so every row's escape/unescape and
    typed extraction is value-checked, not just the aggregate.

    Determinism: counts, integer sums and min/max only; file layout
    (partition count, ordering) never reaches the result.
    """
    docs = load_table(spark, sf_dir, "documents")
    # overwritten per build, reused across invocations in one session
    path = app_scratch_dir(spark, sf_dir, "q217_xml")
    projected = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        # XML-special characters forced into every row: the writer must
        # escape them and the reader must hand back the original.
        F.concat(
            F.col("source"), F.lit(' <&"> '), F.col("doc_id").cast("string")
        ).alias("probe"),
    )
    (
        projected.write.format("xml")
        .option("rowTag", "doc")
        .mode("overwrite")
        .save(path)
    )
    # explicit schema: XML inference is a FULL extra pass over the
    # files — at 100 TB the reader must be told its shape, same as any
    # production ingest (inference is for exploration only)
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(
            "doc_id bigint, source string, lang string, n_chars bigint,"
            " probe string"
        )
        .load(path)
        .select("doc_id", "source", "lang", "n_chars", "probe")
    )
    # per-row parse half: synthesize an XML string from the read-back
    # row, extract typed fields with from_xml, compare to the carried
    # columns (schema projection + PERMISSIVE null-on-malformed are
    # pinned in the probe suite)
    parsed = back.withColumn(
        "x",
        F.from_xml(
            F.concat(
                F.lit("<r><id>"),
                F.col("doc_id").cast("string"),
                F.lit("</id><sl>"),
                F.col("source"),
                F.lit("|"),
                F.col("lang"),
                F.lit("</sl></r>"),
            ),
            "id BIGINT, sl STRING",
        ),
    )
    return (
        parsed.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum(
                F.when(
                    F.col("probe")
                    == F.concat(
                        F.col("source"),
                        F.lit(' <&"> '),
                        F.col("doc_id").cast("string"),
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("n_probe_ok"),
            F.sum(
                F.when(
                    (F.col("x.id") == F.col("doc_id"))
                    & (
                        F.col("x.sl")
                        == F.concat_ws("|", "source", "lang")
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("n_id_ok"),
        )
        .orderBy("source", "lang")
    )


Q217_ORACLE = """
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_probe_ok,
       CAST(COUNT(*) AS BIGINT) AS n_id_ok
FROM documents
GROUP BY source, lang
ORDER BY source, lang
"""


def _build_queries():
    from ..registry import QuerySpec

    return [
        QuerySpec(
            "q217_xml_roundtrip",
            q217_xml_roundtrip,
            Q217_ORACLE,
            "native XML DataSource write+read round trip plus from_xml "
            "per-row parse, value-checked via probe-match counts",
            ("sources", "xml", "roundtrip"),
        ),
    ]


QUERIES = _build_queries()
