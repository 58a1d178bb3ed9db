package graftbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** In-memory span store for the traced run.
  *
  * A span is one call into an engine layer: name, start, end (epoch
  * microseconds), the enclosing span on the same thread, and the id of the
  * MCP call or catalog row it belongs to. Spans, Spark job/stage records
  * and planner phases are held in memory and written as JSON lines by
  * [[dump]] when the run ends.
  *
  * Recording is off until [[enabled]] is set, so the traced run can
  * measure an untraced stretch of the same process first.
  */
object Trace {
  @volatile var enabled: Boolean = false

  private val t0Nanos = System.nanoTime()
  private val t0Micros = System.currentTimeMillis() * 1000L

  def nowMicros: Long = t0Micros + (System.nanoTime() - t0Nanos) / 1000L

  final class Span(
      val id: Int, val name: String, val parent: Int, val call: Long,
      val thread: String, val start: Long) {
    @volatile var end: Long = -1L
    var arg: String = null
    var argN: Long = -1L
    var ret: String = null
    var retN: Long = -1L
  }

  private val spans = ArrayBuffer.empty[Span]
  private val records = ArrayBuffer.empty[String]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  /** Inherited by threads a call starts, e.g. the embedding indexer. */
  private val currentCall = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val callSeq = new AtomicLong(0L)

  private def context: Option[SparkContext] = SparkSession.getDefaultSession.map(_.sparkContext)

  /** Open a new call: its spans and Spark jobs carry the returned id. */
  def beginCall(): Long = {
    val id = callSeq.incrementAndGet()
    currentCall.set(id)
    if (enabled) context.foreach(_.setJobGroup(s"gb-$id", "perfbench", false))
    id
  }

  def endCall(): Unit = {
    context.foreach(_.clearJobGroup())
    currentCall.set(0L)
  }

  def enter(name: String, args: Array[AnyRef]): Int = {
    if (!enabled) return -1
    val parent = stack.get().headOption.getOrElse(-1)
    val s = spans.synchronized {
      val sp = new Span(spans.length, name, parent, currentCall.get(),
        Thread.currentThread().getName, nowMicros)
      spans += sp
      sp
    }
    summarizeArgs(s, args)
    stack.set(s.id :: stack.get())
    s.id
  }

  def exit(id: Int, ret: AnyRef): Unit = {
    if (id < 0) return
    val s = spans.synchronized(spans(id))
    s.end = nowMicros
    summarizeReturn(s, ret)
    stack.set(stack.get().dropWhile(_ != id).drop(1))
  }

  /** Heap in use after full collections, in bytes. The pauses let Spark's
    * ContextCleaner drop blocks of frames the first collection freed.
    */
  def liveHeap(): Long = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** The MCP server's entry point: a trace toggle or a call. */
  def enterHandle(args: Array[AnyRef]): Int = {
    val line = String.valueOf(args(0))
    if (line.contains("\"perfbench/")) {
      if (line.contains("\"perfbench/trace_on\"")) enabled = true
      else if (line.contains("\"perfbench/trace_off\"")) enabled = false
      return -1
    }
    if (!enabled) return -1
    beginCall()
    enter("McpServer.handle", args)
  }

  def exitHandle(id: Int, ret: AnyRef): Unit = {
    if (id < 0) return
    exit(id, ret)
    context.foreach { sc =>
      val bytes = sc.getRDDStorageInfo.map(_.memSize).sum
      record(s"""{"type":"storage","call":${currentCall.get()},"bytes":$bytes}""")
    }
    endCall()
  }

  def count(name: String, n: Long): Unit =
    if (enabled) record(s"""{"type":"count","name":${q(name)},"call":${currentCall.get()},"n":$n,"t":$nowMicros}""")

  def record(json: String): Unit = records.synchronized { records += json }

  private def size(x: Any): Long = x match {
    case i: Iterable[_] => i.size.toLong
    case a: Array[_] => a.length.toLong
    case _ => -1L
  }

  private def summarizeArgs(s: Span, args: Array[AnyRef]): Unit = if (args != null) {
    args.find(_.isInstanceOf[String]).foreach(a => s.arg = a.asInstanceOf[String].take(200))
    args.iterator.map(size).find(_ >= 0).foreach(s.argN = _)
  }

  private def summarizeReturn(s: Span, ret: AnyRef): Unit = ret match {
    case null =>
    case str: String => s.ret = str.take(64); s.retN = str.length.toLong
    case Some(str: String) => s.retN = str.length.toLong
    case m: collection.Map[_, _] =>
      m.asInstanceOf[collection.Map[String, Any]].get("row_count") match {
        case Some(n: Int) => s.retN = n.toLong
        case _ => s.retN = m.size.toLong
      }
    case i: Iterable[_] => s.retN = i.size.toLong
    case p: Product if p.productArity > 0 =>
      p.productElement(0) match {
        case n: Int => s.retN = n.toLong // Mutations.BatchResult.updatedCount
        case _ =>
      }
    case _ =>
  }

  def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Write every span and record as one JSON object per line. */
  def dump(path: String): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.UTF_8))
    try {
      spans.synchronized(spans.toList).foreach { s =>
        w.write(s"""{"type":"span","id":${s.id},"name":${q(s.name)},"parent":${s.parent},""" +
          s""""call":${s.call},"thread":${q(s.thread)},"start":${s.start},"end":${s.end},""" +
          s""""arg":${q(s.arg)},"arg_n":${s.argN},"ret":${q(s.ret)},"ret_n":${s.retN}}""")
        w.newLine()
      }
      records.synchronized(records.toList).foreach { r => w.write(r); w.newLine() }
    } finally w.close()
  }
}
