package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify", aqe = true)
    SparkEntry.registerSessionFunctions(spark)
    new java.io.File(outDir).mkdirs()
    // Dev-iteration filter (same contract as Bench): SPARK_GRAFT_ONLY=q_a,q_b
    // restricts both the dump and the emitted oracle map. Unset in the
    // driver, so the real gate always runs everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A leaked filter in the gate environment must be loudly detectable:
    // warn on stderr AND stamp oracle_sql.json with "_filtered" so the
    // downstream checker can tell a partial run from a full one.
    only.foreach { s =>
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_ONLY is set — PARTIAL run over " +
          s"${s.size} of ${SparkEntry.queries.size} queries: ${s.mkString(",")}")
    }
    val queries = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    // A query that fails to execute must NOT vanish from the artifact —
    // round 8 dropped 11 crashing queries and the correctness report read
    // as green. On failure, write a one-row parquet with a sentinel
    // `_graft_error` column: the driver's compare then records a hard
    // schema/hash MISMATCH for that name instead of silently omitting it.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[verify] $name FAILED: $msg")
        failed(name) = msg
        try {
          import spark.implicits._
          Seq(msg).toDF("_graft_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name could not write error sentinel: $e2")
        }
      }
    }
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size}/${queries.size} queries FAILED to execute: " +
          failed.keys.mkString(","))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val marker = if (only.isDefined) Seq(s"${q("_filtered")}: true") else Nil
    val json = (marker ++ SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }).mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable execution-failure record next to the oracle map, so
    // a round with crashing queries is flaggable without parsing stderr.
    val errJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/exec_errors.json"), errJson)
    spark.stop()
  }
}
