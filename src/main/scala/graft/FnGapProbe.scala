package graft

import scala.io.Source

import graft.fixtures.FixtureCorpus
import graft.fm.{QueryEngine, Settings}

/** Breadth-first function-parity prober: run a FILE of scalar/aggregate
  * expressions (one per line, `#` comments) through the full engine
  * path as `SELECT <expr> AS v` and print one TSV line per expression —
  * `OK <expr> <value…>` or `ERR <expr> <message head>` — for a
  * side-by-side diff against DuckDB's evaluation of the same list
  * (tools/fn_gap_duck.py). This is the systematic gap-finder behind the
  * hand-picked fuzz families: anything the reference's DuckDB
  * connection can evaluate should either work here or fail loudly for a
  * DOCUMENTED reason.
  *
  * Usage: runMain graft.FnGapProbe <exprFile> [sfDir]
  */
object FnGapProbe {
  def main(args: Array[String]): Unit = {
    // the forked JVM's default stdout charset mangles non-ASCII
    // expressions ('héllo' → 'h?llo'), breaking the TSV keys the
    // comparator joins on
    val utf8Out = new java.io.PrintStream(java.lang.System.out, true, "UTF-8")
    java.lang.System.setOut(utf8Out)
    val exprFile = args(0)
    val sfDir = if (args.length > 1) args(1) else SparkEntry.SmokeSfDir
    val spark = Sessions.local("graft-fn-gap-probe", aqe = true)
    SparkEntry.registerSessionFunctions(spark)
    val base = FixtureCorpus.ensure(spark, sfDir)
    val engine = new QueryEngine(
      spark, Settings(base.toString, enableSemantic = false, "", None))
    val exprs = Source.fromFile(exprFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    for (e <- exprs) {
      // a line that IS a SELECT runs verbatim (aggregates need a FROM);
      // anything else wraps as a scalar projection
      val stmt = if (e.toUpperCase.startsWith("SELECT ")) e else s"SELECT $e AS v"
      val line =
        try {
          val rows = engine.query("**/*.md", stmt).results
            .collect()
          val v = rows.headOption.map(r => String.valueOf(r.get(0))).getOrElse("<no rows>")
          s"OK\t$e\t$v"
        } catch {
          case ex: Throwable =>
            val msg = String.valueOf(ex.getMessage)
              .replace('\n', ' ').replace('\t', ' ').take(140)
            s"ERR\t$e\t$msg"
        }
      utf8Out.println(line)
    }
    spark.stop()
  }
}
