package graftbench

import java.io.{FilterInputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Runs the unmodified `graft.fm.McpServer` main and records the server's
  * live heap when its client closes stdin, before the server shuts down.
  *
  *   Serve <heapFile> [McpServer args...]
  *
  * The heap, in bytes after full collections (see [[Trace.liveHeap]]), is
  * written to `<heapFile>` once the server has read the end of its input.
  */
object Serve {

  def main(args: Array[String]): Unit = {
    System.setIn(new HeapAtEnd(System.in, args(0)))
    graft.fm.McpServer.main(args.drop(1))
  }

  private final class HeapAtEnd(in: InputStream, heapFile: String) extends FilterInputStream(in) {
    private var recorded = false

    private def atEnd(n: Int): Int = {
      if (n < 0 && !recorded) {
        recorded = true
        Files.write(Paths.get(heapFile), Trace.liveHeap().toString.getBytes(StandardCharsets.UTF_8))
      }
      n
    }

    override def read(): Int = atEnd(super.read())
    override def read(b: Array[Byte], off: Int, len: Int): Int = atEnd(super.read(b, off, len))
  }
}
