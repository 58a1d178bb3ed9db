package graftbench

import java.io.ByteArrayInputStream
import java.lang.instrument.{ClassFileTransformer, Instrumentation}
import java.security.ProtectionDomain

import javassist.{ClassPool, CtClass, CtMethod, CtNewMethod, LoaderClassPath, Modifier}

/** `-javaagent` entry for the traced runs, argument `<dir>`.
  *
  * Wraps the engine's public layer entry points in [[Trace]] spans at
  * class-load time, and `McpServer.handle` so that a client can turn
  * tracing on and off (`perfbench/trace_on`, `perfbench/trace_off`).
  * Writes `<dir>/trace.jsonl` when the JVM exits. Untraced runs load no
  * agent.
  */
object Agent {

  /** Internal class name -> (method name -> span name). */
  private val spans: Map[String, Map[String, String]] = {
    def layer(cls: String, label: String, methods: String*): (String, Map[String, String]) =
      cls.replace('.', '/') -> methods.map(m => m -> s"$label.$m").toMap
    Map(
      layer("graft.fm.FmTools", "FmTools", "query", "queryInspect", "update", "batchUpdate",
        "batchArrayAdd", "batchArrayRemove", "batchArrayReplace", "batchArraySort",
        "batchArrayUnique", "indexStatus", "indexWait", "indexRefresh"),
      layer("graft.fm.FileScan$", "FileScan", "collectWithMtime", "collect"),
      layer("graft.fm.Corpus$", "Corpus", "fingerprint", "parse", "filesDF"),
      layer("graft.fm.Dialect$", "Dialect", "rewrite"),
      layer("graft.fm.QueryEngine", "QueryEngine", "query", "inspect"),
      layer("graft.fm.QueryResult", "QueryResult", "response"),
      layer("graft.fm.SchemaInfer$", "SchemaInfer", "inspectFlat"),
      layer("graft.fm.Mutations$", "Mutations", "batchUpdate", "batchArrayAdd",
        "batchArrayRemove", "batchArrayReplace", "batchArraySort", "batchArrayUnique"),
      layer("graft.semantic.EmbeddingIndexer", "EmbeddingIndexer", "start", "await", "indexFiles"),
      layer("graft.Tables$", "Tables", "load", "warm"))
  }

  private val HandleClass = "graft/fm/McpServer"
  private val EmbedCacheClass = "graft/semantic/EmbeddingCache"

  def premain(dir: String, inst: Instrumentation): Unit = {
    inst.addTransformer(new ClassFileTransformer {
      override def transform(loader: ClassLoader, name: String, redefined: Class[_],
          pd: ProtectionDomain, bytes: Array[Byte]): Array[Byte] =
        if (name == HandleClass || name == EmbedCacheClass || spans.contains(name))
          try instrument(loader, name, bytes)
          catch {
            case e: Throwable =>
              System.err.println(s"perfbench agent: cannot instrument $name: $e")
              null
          }
        else null
    })
    Runtime.getRuntime.addShutdownHook(new Thread(() => Trace.dump(s"$dir/trace.jsonl")))
  }

  private def instrument(loader: ClassLoader, name: String, bytes: Array[Byte]): Array[Byte] = {
    val pool = new ClassPool(true)
    pool.appendClassPath(new LoaderClassPath(loader))
    val cc = pool.makeClass(new ByteArrayInputStream(bytes))
    val targets = spans.getOrElse(name, Map.empty)
    for (m <- cc.getDeclaredMethods
         if !Modifier.isAbstract(m.getModifiers) && (m.getMethodInfo.getAccessFlags & 0x0040) == 0) {
      if (name == HandleClass && m.getName == "handle")
        wrap(cc, m, "graftbench.Trace.enterHandle($args)", "graftbench.Trace.exitHandle")
      else if (name == EmbedCacheClass && m.getName == "set")
        m.insertBefore("graftbench.Trace.count(\"semantic.files_embedded\", 1L);")
      else targets.get(m.getName).foreach { span =>
        wrap(cc, m, s"""graftbench.Trace.enter("$span", $$args)""", "graftbench.Trace.exit")
      }
    }
    val out = cc.toBytecode
    cc.detach()
    out
  }

  /** Move the body of `m` to a renamed copy and make `m` call it between
    * `enter` and `exit`; the original bytecode stays as it was compiled.
    */
  private def wrap(cc: CtClass, m: CtMethod, enter: String, exit: String): Unit = {
    val inner = s"${m.getName}$$gbInner"
    val body = CtNewMethod.copy(m, inner, cc, null)
    body.setModifiers(Modifier.setPrivate(m.getModifiers))
    cc.addMethod(body)
    val call = s"$inner($$$$)"
    val rt = m.getReturnType
    m.setBody(
      if (rt == CtClass.voidType)
        s"""{ int __s = $enter;
           |  try { $call; } catch (Throwable __t) { $exit(__s, null); throw __t; }
           |  $exit(__s, null); }""".stripMargin
      else
        s"""{ int __s = $enter;
           |  ${rt.getName} __r;
           |  try { __r = $call; } catch (Throwable __t) { $exit(__s, null); throw __t; }
           |  $exit(__s, ($$w)__r);
           |  return __r; }""".stripMargin)
  }
}
