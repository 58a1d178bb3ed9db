package graft

import org.apache.spark.sql.execution.ExplainMode

import graft.fixtures.FixtureCorpus
import graft.fm.{QueryEngine, Settings}

/** Dev-loop probe for the two questions a plan or dialect investigation
  * asks.
  *
  *  - Catalog rows (`q_a,q_b`): on the Bench profile (AQE off, shuffle
  *    partitions sized to the fact table), one warm-up, then `runs` timed
  *    build/exec pairs through the noop sink — the fast way to tell a
  *    plan problem from scheduler jitter without a full bench run — then
  *    the executed formatted plan and its [[PlanWalk]] operator counts.
  *  - One SQL statement: the full engine path (dialect rewrite + private
  *    session) over the fixture corpus; with `--raw`, also plain
  *    `spark.sql`, to separate a rewrite gap from a Spark-capability gap.
  *
  * An argument naming only catalog rows selects the first mode.
  *
  * Usage: runMain graft.Probe <q_name>[,<q_name>…] [sfDir] [runs=4]
  *        runMain graft.Probe [--raw] <sql> [sfDir]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (raw, rest) = args.partition(_ == "--raw")
    val names = rest(0).split(',').map(_.trim).toSeq
    val sfDir = rest.lift(1).getOrElse(SparkEntry.SmokeSfDir)
    if (raw.isEmpty && names.forall(SparkEntry.queries.contains))
      rows(names, sfDir, rest.lift(2).map(_.toInt).getOrElse(4))
    else statement(rest(0), sfDir, raw.nonEmpty)
  }

  private def rows(names: Seq[String], sfDir: String, runs: Int): Unit = {
    val spark = Sessions.local("graft-probe", aqe = false)
    SparkEntry.registerSessionFunctions(spark)
    Sessions.sizeShuffleToFacts(spark, sfDir)
    Tables.warm(spark, sfDir)
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm-up
      for (i <- 1 to runs) {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        println(f"[probe] $name run$i%d build ${(t1 - t0) / 1e9}%.3f s " +
          f"exec ${(t2 - t1) / 1e9}%.3f s")
      }
      // AQE is off, so the physical plan is final without executing it
      val df = fn(spark, sfDir)
      println(s"==== $name ====")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      val c = PlanWalk.count(df.queryExecution.executedPlan)
      println("[counts] " + c.productElementNames.zip(c.productIterator)
        .map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    spark.stop()
  }

  private def statement(sql: String, sfDir: String, raw: Boolean): Unit = {
    val spark = Sessions.local("graft-probe", aqe = true)
    SparkEntry.registerSessionFunctions(spark)
    println("=== engine path ===")
    val base = FixtureCorpus.ensure(spark, sfDir)
    val engine = new QueryEngine(
      spark, Settings(base.toString, enableSemantic = false, "", None))
    try engine.query("**/*.md", sql).results.show(50, truncate = false)
    catch {
      case e: Throwable =>
        println(s"ENGINE FAIL: ${e.getMessage}")
        e.printStackTrace()
    }
    if (raw) {
      println("=== raw spark.sql ===")
      // the same corpus frame, as `files` in the user session
      try {
        engine.filesTable("**/*.md")._1.createOrReplaceTempView("files")
        spark.sql(sql).show(50, truncate = false)
      }
      catch { case e: Throwable => println(s"RAW FAIL: ${e.getMessage}") }
    }
    spark.stop()
  }
}
