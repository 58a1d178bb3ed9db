package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = Sessions.local("graft-test", aqe = true, overrides = Map(
    "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4"))
}

class RelationalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("every declared query has runnable plan and deterministic output") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      withClue(s"$name:") { assert(n >= 0) }
    }
  }

  test("every query with an oracle is also in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1_agg groups to 6 flag/status combinations") {
    val rows = SparkEntry.queries("q1_agg")(spark, sf).collect()
    assert(rows.length == 6)
    val cols = SparkEntry.queries("q1_agg")(spark, sf).columns.toSeq
    assert(cols == Seq("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
      "sum_disc_price", "count_order", "avg_qty"))
  }

  test("q_topk returns 50 rows sorted by price desc") {
    val rows = SparkEntry.queries("q_topk")(spark, sf).collect()
    assert(rows.length == 50)
    val prices = rows.map(_.getDouble(1))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q_count_star matches table size") {
    val n = SparkEntry.queries("q_count_star")(spark, sf).collect()(0).getLong(0)
    assert(n == 6000L)
  }
}
