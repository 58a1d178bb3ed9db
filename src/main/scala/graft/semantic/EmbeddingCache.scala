package graft.semantic

import java.nio.file.{Files, Path}
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Persistent embedding cache (reference `semantic/cache.py:14-240`):
  * `(path, mtime, vector)` rows plus model metadata, with model-change
  * invalidation and snapshot reads.
  *
  * Storage is a parquet snapshot under `cacheDir` plus a JSON metadata
  * sidecar — the immutable-snapshot design gives the reference's
  * read-only-connection semantics for free (`semantic/cache.py:210-234`):
  * queries join against the last flushed snapshot while the indexer
  * buffers updates. At 100 TB the snapshot becomes a Delta/Iceberg table
  * and `flush` a MERGE; the surface here doesn't change.
  */
final class EmbeddingCache(spark: SparkSession, cacheDir: Path, val model: String, val dim: Int) {

  private val dataDir = cacheDir.resolve("embeddings.parquet")
  private val metaFile = cacheDir.resolve("metadata.json")
  private val entries = TrieMap.empty[String, (Long, Array[Float])]
  @volatile private var flushes = 0L

  /** The snapshot's schema, also given to its readers: without one,
    * `spark.read.parquet` runs a schema-inference job per read.
    */
  private val snapshotSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("mtime", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  locally {
    Files.createDirectories(cacheDir)
    val meta = readMeta()
    if (meta.exists(m => m != (model, dim))) {
      // model changed → invalidate everything (cache.py:86-103)
      deleteSnapshot()
      entries.clear()
    } else if (Files.exists(dataDir)) {
      readSnapshot().collect().foreach { r =>
        entries.put(r.getString(0), (r.getLong(1), r.getSeq[Float](2).toArray))
      }
    }
    writeMeta()
  }

  private def readMeta(): Option[(String, Int)] =
    if (!Files.exists(metaFile)) None
    else {
      val s = new String(Files.readAllBytes(metaFile), "UTF-8")
      val m = """"model"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1))
      val d = """"dim"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
      for (mm <- m; dd <- d) yield (mm, dd)
    }

  private def writeMeta(): Unit =
    Files.write(metaFile, s"""{"model": "$model", "dim": $dim}""".getBytes("UTF-8"))

  private def deleteSnapshot(): Unit = deleteTree(dataDir)

  /** Paths whose cached mtime differs or that are missing
    * (`cache.py:160-175`).
    */
  def getStalePaths(current: Map[String, Long]): Seq[String] =
    current.collect {
      case (p, m) if !entries.get(p).exists(_._1 == m) => p
    }.toSeq.sorted

  /** Cached paths that vanished from the corpus (`cache.py:177-190`). */
  def getDeletedPaths(current: Map[String, Long]): Seq[String] =
    entries.keySet.diff(current.keySet).toSeq.sorted

  def set(path: String, mtime: Long, vector: Array[Float]): Unit =
    entries.put(path, (mtime, vector))

  def delete(path: String): Unit = entries.remove(path)

  def count: Int = entries.size

  def get(path: String): Option[Array[Float]] = entries.get(path).map(_._2)

  /** Number of snapshots flushed by this instance; bumped after each swap. */
  def generation: Long = flushes

  private def readSnapshot(): DataFrame = spark.read.schema(snapshotSchema).parquet(dataDir.toString)

  /** Write the snapshot parquet. The swap is rename-based (old dir moved
    * aside, new dir moved in, old deleted last) so the unavailable window
    * is two renames, not a full delete+copy — in-flight queries planned
    * against the previous snapshot either finish on the old files or
    * retry onto the new ones, never onto a half-deleted directory.
    */
  def flush(): Unit = {
    val rows = entries.toSeq.sortBy(_._1).map { case (p, (m, v)) => Row(p, m, v.toSeq) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), snapshotSchema)
    val tmp = cacheDir.resolve("embeddings.parquet.tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    val old = cacheDir.resolve("embeddings.parquet.old")
    deleteTree(old)
    if (Files.exists(dataDir)) Files.move(dataDir, old)
    Files.move(tmp, dataDir)
    deleteTree(old)
    flushes += 1
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Snapshot as (path, embedding) for the files-table left join
    * (reference's UPDATE…FROM at `semantic/query.py:60-65` ≙ a join).
    */
  def asDataFrame: DataFrame =
    (if (Files.exists(dataDir)) readSnapshot()
     else spark.createDataFrame(java.util.Collections.emptyList[Row](), snapshotSchema))
      .select("path", "embedding")
}
