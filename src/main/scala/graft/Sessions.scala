package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built. Every main (Verify, Bench, Probe,
  * PlanAudit, DialectFuzz, FnGapProbe, ScaleProbe, WindowFrameProbe, the
  * MCP server) and the test session start from [[local]], so the probe,
  * bench and serving configurations differ only in what each caller
  * passes beside the call. The query catalog itself never assumes a
  * profile (every operator is tested under both AQE settings: Verify
  * runs adaptive, Bench runs static).
  */
object Sessions {

  /** Cluster profile: what a 1000-executor deployment over ~100 TB
    * should run with.
    *
    *  - AQE ON with skew-join splitting and partition coalescing: at
    *    real scale, runtime statistics beat any static
    *    `shuffle.partitions` guess, oversized skewed partitions split
    *    instead of straggling, and kilobyte post-filter partitions
    *    coalesce instead of paying per-task overhead.
    *  - `advisoryPartitionSizeInBytes` 128m: the shuffle sizing target
    *    AQE coalesces/splits toward — matches the parquet row-group
    *    scale the scans produce.
    *  - `files.maxPartitionBytes` 256m: scan splits sized so a task's
    *    working set fits executor memory alongside shuffle buffers.
    *  - UTC session timezone: the engine's exactness envelope (all
    *    temporal oracles are pinned under UTC).
    *
    * Broadcast threshold stays at Spark's default 10 MB — deliberately
    * ABSENT here: the catalog's broadcast sides (codebooks, eval
    * splits, statistics rows, bounded top-K sets) are bounded by
    * construction far below it, and raising it globally risks
    * broadcasting a "dimension" that is data-sized in someone's
    * deployment.
    */
  val ClusterConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128m",
    "spark.sql.files.maxPartitionBytes" -> "256m")

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else the cores this JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Local profile: `local[cpus]`, shuffle partitions at the core count
    * (the data at local scale never needs more), UTC for the oracles, no
    * UI, and AQE as the caller says. AQE is a build-time setting so it
    * also reaches `newSession()` clones such as `QueryEngine`'s private
    * session. `overrides` replace or extend these settings; logging is
    * set to WARN.
    */
  def local(appName: String, aqe: Boolean,
      overrides: Map[String, String] = Map.empty): SparkSession = {
    val conf = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> aqe.toString) ++ overrides
    val spark = conf.foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench profile's shuffle sizing, shared by Bench and Probe: partitions
    * sized to the data, not the core count. With AQE off a shuffle stage
    * otherwise schedules `cpus` tasks for kilobyte partitions and task
    * overhead dominates the sub-second long tail. ~75k fact rows per
    * partition, clamped to [4, 2*cpus]; scans still parallelize across
    * all cores via input splits. `SPARK_GRAFT_SHUFFLE` overrides.
    */
  def sizeShuffleToFacts(spark: SparkSession, sfDir: String): Unit = {
    val factRows = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse(
      math.max(4, math.min(cpus * 2, (factRows / 75000L).toInt + 1)))
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
  }
}
