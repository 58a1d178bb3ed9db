package graft.fm

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}

/** `query_inspect` schema inference (reference `query_schema.py:19-69`):
  * per property `{type, nullable, examples}` where type is "array" iff any
  * non-null value is a YAML list, nullable means some matched file lacks a
  * non-null value (`path` hard-wired non-null), and examples are the first
  * [[Corpus.MaxExamples]] distinct values in record (path) order.
  *
  * The per-key facts come from the [[CorpusSummary]] the ingest job
  * already collected (see [[Corpus.filesDF]]), so building the rows is a
  * local step over one entry per key and runs no Spark job.
  */
object SchemaInfer {

  private val schema: StructType = StructType(Seq(
    StructField("property", StringType),
    StructField("type", StringType),
    StructField("nullable", BooleanType),
    StructField("examples", StringType)))

  /** Rows (property, type, nullable, examples) sorted by property, the
    * examples rendered as one JSON array string — a stable,
    * oracle-comparable shape for Verify — followed by `extra` rows.
    */
  def inspectFlat(spark: SparkSession, summary: CorpusSummary, extra: Seq[Row] = Nil): DataFrame = {
    val rows = summary.keys.toSeq.sortBy(_._1).map { case (key, s) =>
      Row(key,
        if (s.anyArray) "array" else "string",
        key != "path" && s.nonNull < summary.okFiles,
        s.examples.map(e => PyValue.jsonDumps(e._2)).mkString("[", ", ", "]"))
    }
    spark.createDataFrame((rows ++ extra).asJava, schema)
  }
}
