package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}
import Trace.q

/** The `catalog` workload's runner: runs `SparkEntry.queries` rows, one
  * cold pass in the order of `coldRows` and then warm passes in the order of
  * `warmRows`, on a session built the way `graft.Bench` builds its own.
  *
  *   Catalog run <dataDir> <coldRows> <warmRows> <outDir> <warmupSeconds> <seconds> <trace 0|1>
  *   Catalog oracle-sql <rowsFile> <outJson>
  *
  * `run` prints `READY` once the session is usable. It times each
  * row as `fn(spark, dir)` plus `collect()`, writes each cold-pass result
  * to `<outDir>/results/<row>` as parquet for the oracle check, and fails a
  * warm result whose row hash differs from the cold one. A row that throws
  * is recorded under `errors` and left out of the times. It then records
  * the live heap after a full collection and writes `<outDir>/catalog.json`.
  */
object Catalog {

  def main(args: Array[String]): Unit = args(0) match {
    case "oracle-sql" =>
      val rows = readRows(args(1))
      val sql = SparkEntry.oracleSql
      val body = rows.map(r => s"${q(r)}:${q(sql.getOrElse(r, null))}").mkString("{", ",", "}")
      Files.write(Paths.get(args(2)), body.getBytes(StandardCharsets.UTF_8))
    case "run" =>
      run(args(1), readRows(args(2)), readRows(args(3)), args(4), args(5).toDouble,
        args(6).toDouble, args(7) == "1")
  }

  private def readRows(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  /** `graft.Bench`'s session: local[cpus], AQE off, shuffle partitions
    * sized to the fact table, UTC, no UI, session functions registered.
    */
  private def session(dir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.registerSessionFunctions(spark)
    val factRows = spark.read.parquet(s"$dir/lineitem.parquet").count()
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(4, math.min(cpus * 2, (factRows / 75000L).toInt + 1)))
    spark
  }

  private final case class Outcome(seconds: Double, rows: Array[Row], df: DataFrame)

  private def run(dir: String, rows: Seq[String], warmRows: Seq[String], out: String,
      warmup: Double, seconds: Double, trace: Boolean): Unit = {
    val spark = session(dir)
    println("READY")
    System.out.flush()
    val catalog = SparkEntry.queries

    def timed(name: String)(body: => Outcome): Either[String, Outcome] = {
      Trace.beginCall()
      val span = Trace.enter(s"catalog.$name", null)
      try Right(body)
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
      finally { Trace.exit(span, null); Trace.endCall() }
    }
    def runRow(name: String): Either[String, Outcome] = timed(name) {
      val t0 = System.nanoTime()
      val lambda = Trace.enter("catalog.lambda", null)
      val df = try catalog(name)(spark, dir) finally Trace.exit(lambda, null)
      val collected = df.collect()
      Outcome((System.nanoTime() - t0) / 1e9, collected, df)
    }
    def rowHash(rs: Array[Row]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rs.map(_.toString).sorted.foreach(s => md.update(s.getBytes(StandardCharsets.UTF_8)))
      md.digest().map("%02x".format(_)).mkString
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val hashes = scala.collection.mutable.Map.empty[String, String]
    Trace.enabled = trace
    // Cold pass: the session's first contact with the tables and with
    // every shared frame the rows build.
    val tablesWarmS = timed("Tables.warm") {
      val t0 = System.nanoTime(); Tables.warm(spark, dir)
      Outcome((System.nanoTime() - t0) / 1e9, Array.empty, null)
    }.fold(e => throw new IllegalStateException(s"Tables.warm failed: $e"), _.seconds)
    // A row that throws has an error and no time.
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val cold = rows.flatMap { name =>
      runRow(name) match {
        case Right(o) =>
          hashes(name) = rowHash(o.rows)
          counts(name) = o.rows.length
          try spark.createDataFrame(o.rows.toSeq.asJava, o.df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/results/$name")
          catch { case e: Throwable => errors(name) = s"write: $e" }
          Some(name -> o.seconds)
        case Left(e) =>
          errors(name) = e
          None
      }
    }

    // Untimed passes while code generation and JIT settle (rows keep
    // getting faster for tens of seconds); then warm passes until the
    // measuring time is used up (at least one). The traced run alternates
    // untraced and traced passes instead, so their difference is the
    // tracing overhead.
    Trace.enabled = false
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < warmup) warmRows.foreach(runRow)
    val warm = scala.collection.mutable.LinkedHashMap(rows.map(_ -> List.empty[Double]): _*)
    var passes = List.empty[Double]
    var tracedPasses = List.empty[Double]
    val plan = if (trace) Iterator(false, true, true, false) else Iterator.continually(false)
    val t0 = System.nanoTime()
    while (plan.hasNext && (passes.isEmpty || trace || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val traced = plan.next()
      Trace.enabled = traced
      var pass = 0.0
      warmRows.foreach { name =>
        runRow(name) match {
          case Right(o) =>
            if (!traced) warm(name) = warm(name) :+ o.seconds
            pass += o.seconds
            if (hashes.get(name).exists(_ != rowHash(o.rows)) && !errors.contains(name))
              errors(name) = "warm result differs from the cold result"
          case Left(e) => if (!errors.contains(name)) errors(name) = e
        }
      }
      if (traced) tracedPasses = tracedPasses :+ pass else passes = passes :+ pass
    }
    Trace.enabled = false
    val heap = Trace.liveHeap()

    def nums(xs: Seq[Double]): String = xs.mkString("[", ",", "]")
    val json =
      s"""{"tables_warm_s":$tablesWarmS,""" +
        s""""cold":{${cold.map { case (n, s) => s"${q(n)}:$s" }.mkString(",")}},""" +
        s""""warm":{${warm.map { case (n, s) => s"${q(n)}:${nums(s)}" }.mkString(",")}},""" +
        s""""rows":{${counts.map { case (n, c) => s"${q(n)}:$c" }.mkString(",")}},""" +
        s""""warm_passes":${nums(passes)},"traced_passes":${nums(tracedPasses)},"heap_live_bytes":$heap,""" +
        s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
        s""""errors":{${errors.map { case (n, e) => s"${q(n)}:${q(e)}" }.mkString(",")}}}"""
    Files.write(Paths.get(s"$out/catalog.json"), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
