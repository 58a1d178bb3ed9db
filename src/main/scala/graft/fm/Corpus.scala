package graft.fm

import java.nio.file.{Files, Paths}
import java.{util => ju}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One serialized frontmatter field of one file. */
final case class ParsedField(key: String, value: String, isArray: Boolean)

/** One parsed file: ok + fields, or a warning (reference `files.py:70-107`
  * collects per-file failures as warnings, not errors).
  */
final case class ParsedFile(path: String, ok: Boolean, error: String, fields: Seq[ParsedField])

final case class ParseWarning(path: String, error: String)

/** What the ingest pass knows about one frontmatter key: how many files
  * hold a non-null value for it, whether any of those values is a list,
  * and the first [[Corpus.MaxExamples]] distinct values as
  * `(first path, value)` in path order.
  */
final case class KeySummary(nonNull: Long, anyArray: Boolean, examples: Vector[(String, String)]) {

  def add(value: String, isArray: Boolean, path: String): KeySummary =
    if (value == null) this
    // Full and `path` sorts after the last example: the value cannot
    // enter the list (a file holds one value per key, so paths never tie).
    else if (examples.length == Corpus.MaxExamples && Corpus.byPath.gteq(path, examples.last._1))
      copy(nonNull = nonNull + 1, anyArray = anyArray || isArray)
    else KeySummary(nonNull + 1, anyArray || isArray, KeySummary.firstByPath(examples :+ (path -> value)))

  def merge(o: KeySummary): KeySummary =
    KeySummary(nonNull + o.nonNull, anyArray || o.anyArray, KeySummary.firstByPath(examples ++ o.examples))
}

object KeySummary {
  val Empty: KeySummary = KeySummary(0L, anyArray = false, Vector.empty)

  /** The first [[Corpus.MaxExamples]] distinct values by the first path
    * that holds them. Exact under merging: a value among the global
    * first N is among the first N of the part holding its first path.
    */
  private def firstByPath(xs: Vector[(String, String)]): Vector[(String, String)] =
    xs.sortBy(_._1)(Corpus.byPath).distinctBy(_._2).take(Corpus.MaxExamples)
}

/** The corpus facts one pass over the parsed files collects: the ok-file
  * count, per key a [[KeySummary]] (its key set is the `files` schema),
  * and the first `failures` by path with the exact failure count. Its size
  * is bounded by the number of distinct keys plus the warning cap, never
  * by the number of records.
  */
final case class CorpusSummary(
    okFiles: Long,
    keys: Map[String, KeySummary],
    failures: Vector[ParseWarning],
    failureCount: Long) {

  /** Parse warnings in path order, bounded by Settings.maxListed: the
    * full list is reference parity and kept verbatim below the cap, but a
    * corpus with 10⁹ unparseable files must not exhaust the heap that
    * collects the summary — above the cap the first N are
    * listed plus one summary entry carrying the exact remainder count.
    */
  def warnings: Seq[ParseWarning] =
    if (failureCount <= failures.length) failures
    else failures :+ ParseWarning("(truncated)",
      s"... ${failureCount - failures.length} more parse warnings not listed " +
        s"(listing capped at ${failures.length}; set FRONTMATTER_MAX_LIST to raise)")

  def merge(o: CorpusSummary, cap: Int): CorpusSummary = CorpusSummary(
    okFiles + o.okFiles,
    o.keys.foldLeft(keys) { case (m, (k, s)) => m.updated(k, m.get(k).fold(s)(_.merge(s))) },
    (failures ++ o.failures).sortBy(_.path)(Corpus.byPath).take(cap),
    failureCount + o.failureCount)
}

/** Distributed ingest: relative paths → parsed+serialized records →
  * union-of-keys all-strings `files` DataFrame (reference
  * `query.py:23-59`). The reference collects every record on one node;
  * here parsing/serialization runs in executors and one Spark job per
  * corpus change builds the persisted parse and collects a
  * [[CorpusSummary]] from it: the key set, the parse warnings and
  * everything `query_inspect` reports (SURVEY.md §7.4). The row build
  * over the persisted parse stays lazy until the first query.
  */
object Corpus {

  /** Examples `query_inspect` lists per key (reference
    * `query_schema.py:19-69`).
    */
  val MaxExamples = 5

  /** Path order as the reference (Python `sorted`), DuckDB and Spark's
    * `min` see it: code-point order, which Java's UTF-16 `compareTo`
    * breaks for characters outside the BMP.
    */
  val byPath: Ordering[String] = (a, b) =>
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Record fields for one document: synthetic `path` first, then YAML
    * metadata in document order; a frontmatter key literally named "path"
    * overrides the synthetic value (reference `files.py:62-67` dict
    * update semantics).
    */
  def recordFields(relPath: String, text: String): Seq[ParsedField] = {
    val post = Frontmatter.parse(text)
    val lm = new ju.LinkedHashMap[String, Any]()
    lm.put("path", relPath)
    post.metadata.forEach((k, v) => lm.put(k, v))
    lm.entrySet().asScala.toSeq.map { e =>
      ParsedField(e.getKey, PyValue.serialize(e.getValue), e.getValue.isInstanceOf[ju.List[_]])
    }
  }

  /** Parse `relPaths` under `baseDir` in executors. The paths are
    * sliced with `parallelize`, not a `repartition` exchange, so nothing
    * runs until the caller's first action.
    */
  def parse(spark: SparkSession, baseDir: String, relPaths: Seq[String]): Dataset[ParsedFile] = {
    import spark.implicits._
    val bd = baseDir
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism, relPaths.size / 32 + 1))
    spark.createDataset(spark.sparkContext.parallelize(relPaths, parts).mapPartitions { it =>
      it.map { rel =>
        try {
          val bytes = Files.readAllBytes(Paths.get(bd).resolve(rel))
          ParsedFile(rel, ok = true, null, recordFields(rel, new String(bytes, "UTF-8")))
        } catch {
          case e: Exception =>
            ParsedFile(rel, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}", Nil)
        }
      }
    })
  }

  /** One partition's [[CorpusSummary]]; failures beyond the first `cap`
    * by path are only counted.
    */
  private def summarize(files: Iterator[ParsedFile], cap: Int): CorpusSummary = {
    var ok, bad = 0L
    val keys = scala.collection.mutable.HashMap.empty[String, KeySummary]
    val failures = scala.collection.mutable.PriorityQueue.empty(Ordering.by[ParseWarning, String](_.path)(byPath))
    files.foreach { pf =>
      if (pf.ok) {
        ok += 1
        pf.fields.foreach(f => keys(f.key) = keys.getOrElse(f.key, KeySummary.Empty).add(f.value, f.isArray, pf.path))
      } else {
        bad += 1
        failures += ParseWarning(pf.path, pf.error)
        if (failures.size > cap) failures.dequeue()
      }
    }
    CorpusSummary(ok, keys.toMap, failures.toVector.sortBy(_.path)(byPath), bad)
  }

  /** Union-of-keys all-strings DataFrame + the corpus summary, from one
    * Spark job over `parsed` (persist it first: the DataFrame reads it
    * again). Column order: `path` first, then sorted keys (deterministic;
    * the reference's set-iteration order is arbitrary).
    */
  def filesDF(spark: SparkSession, parsed: Dataset[ParsedFile],
      maxWarnings: Int = Settings.maxListed()): (DataFrame, CorpusSummary) = {
    val cap = math.max(1, maxWarnings)
    val summary = parsed.rdd.mapPartitions(it => Iterator(summarize(it, cap))).reduce(_.merge(_, cap))
    val ordered = "path" +: summary.keys.keys.filterNot(_ == "path").toSeq.sorted
    val schema = StructType(ordered.map(k => StructField(k, StringType, nullable = k != "path")))
    val rows = parsed.rdd.filter(_.ok).map { pf =>
      val m = pf.fields.iterator.map(f => f.key -> f.value).toMap
      Row.fromSeq(ordered.map(m.getOrElse(_, null)))
    }
    // r17, measured and REVERTED: an experiment coalesced the cached
    // serving frame to ~200k rows per partition on the theory that the
    // parse layout (32 slivers at sf0.1) taxed every downstream
    // exchange with 32×N shuffle block files. The quiet-box record
    // falsified it: the shuffle-file cost is negligible at this width,
    // while expression-heavy rows lost their scan parallelism — the 66
    // fm rows without their own r17 fixes regressed +2.4 s in
    // aggregate, led by q_fm_json_ops 0.20→0.48 s and q_fm_listfns
    // 0.16→0.36 s (run spreads ≤ 0.03, i.e. real). The parse layout
    // (Corpus.parse: ≥32 files per task, capped at defaultParallelism)
    // is already the right serving layout at every scale probed.
    (spark.createDataFrame(rows, schema), summary)
  }

  /** Corpus fingerprint over (relPath, mtime): the Spark-shaped analogue of
    * the reference's per-file mtime cache (`files.py:19-49`) — when
    * unchanged, a cached parsed DataFrame is reused (see [[QueryEngine]]).
    */
  def fingerprint(pathsWithMtime: Seq[(String, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    pathsWithMtime.foreach { case (p, m) =>
      md.update(p.getBytes("UTF-8")); md.update(m.toString.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Driver-side parse with the reference's per-file mtime cache — the
    * exact `parse_files` semantics (`files.py:70-107`) as an API-parity
    * path for embedders that want the reference's driver-local shape.
    * The query engine uses the distributed [[parse]] + fingerprint cache
    * instead, and the mutation tools read files directly (as the
    * reference's own update path does).
    */
  def parseFilesLocal(
      paths: Seq[java.nio.file.Path],
      baseDir: java.nio.file.Path,
      cache: FileRecordCache): (Seq[Map[String, Any]], Seq[ParseWarning]) = {
    val records = Seq.newBuilder[Map[String, Any]]
    val warnings = Seq.newBuilder[ParseWarning]
    paths.foreach { p =>
      cache.get(p, baseDir) match {
        case Some(rec) => records += rec
        case None =>
          try {
            val post = Frontmatter.load(p)
            val rec = (scala.collection.immutable.ListMap("path" -> (baseDir.relativize(p).toString: Any))
              ++ post.metadata.asScala.toSeq)
            records += rec
            cache.set(p, baseDir, rec)
          } catch {
            case e: Exception =>
              warnings += ParseWarning(baseDir.relativize(p).toString, String.valueOf(e.getMessage))
          }
      }
    }
    (records.result(), warnings.result())
  }
}
