package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The deployment profiles must stay truthful: the cluster profile pins
  * the adaptive-execution knobs the 100 TB story depends on, and every
  * local session, built by the one factory, pins UTC (the exactness
  * envelope every temporal oracle is verified under), no UI, and the AQE
  * setting its caller asked for.
  */
class SessionsSpec extends AnyFunSuite {

  /** Builds `make` as a fresh session on the shared test context: the
    * default and active sessions are cleared around the call and then
    * restored, so the settings are read back from a real session without
    * touching the one every other spec shares.
    */
  private def fresh(make: => SparkSession): SparkSession = {
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s =
      try make
      finally {
        SparkSession.setDefaultSession(base)
        SparkSession.setActiveSession(base)
      }
    assert(s ne base, "the factory must build a fresh session here")
    s
  }

  test("cluster profile: AQE + skew split + coalesce + UTC") {
    val c = Sessions.ClusterConf
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(c("spark.sql.session.timeZone") == "UTC")
    // broadcast threshold deliberately NOT raised (see the Scaladoc)
    assert(!c.contains("spark.sql.autoBroadcastJoinThreshold"))
  }

  test("local factory: core-count shuffle partitions, UTC, UI off, AQE on and off") {
    for (aqe <- Seq(true, false)) withClue(s"aqe=$aqe:") {
      val s = fresh(Sessions.local("sessions-spec", aqe))
      assert(s.conf.get("spark.sql.shuffle.partitions") == Sessions.cpus.toString)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.ui.enabled") == "false")
      assert(s.conf.get("spark.sql.adaptive.enabled") == aqe.toString)
    }
  }

  test("the MCP server's session: 8 partitions, AQE on, UTC, UI off") {
    val s = fresh(graft.fm.McpServer.session())
    assert(s.conf.get("spark.sql.shuffle.partitions") ==
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"))
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.ui.enabled") == "false")
  }

  test("the AQE setting reaches a newSession() clone") {
    // QueryEngine runs its dialect surface on spark.newSession(), which
    // copies only partitions and time zone from the runtime conf: AQE
    // must arrive through the build-time settings.
    for (aqe <- Seq(true, false)) withClue(s"aqe=$aqe:") {
      val clone = fresh(Sessions.local("sessions-spec", aqe)).newSession()
      assert(clone.conf.get("spark.sql.adaptive.enabled") == aqe.toString)
    }
  }
}
