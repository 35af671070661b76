package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** In-memory trace of a traced run, written out on request.
  *
  * A context is one wire statement (opened when the server thread parses
  * it) or one Bench rep. Spans recorded on a thread belong to that
  * thread's current context; Spark jobs started from it carry the
  * context as a job tag, and the job's phase ("build" while the query
  * function runs, "exec" after) as a local property, so [[SparkTrace]]
  * can attribute them. Times are epoch milliseconds, so they line up
  * with the Spark listener's job and task times.
  */
object Spans {
  private val events = new ConcurrentLinkedQueue[String]
  private val seq = new AtomicLong
  private val current = new ThreadLocal[String]
  private val starts = ThreadLocal.withInitial(() => new java.util.ArrayDeque[java.lang.Long])
  private val codegenNs = new AtomicLong
  private val epochBaseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  val PhaseProperty = "perfbench.phase"
  val TagPrefix = "pb-"

  def epochMs(nanoTime: Long): Double = (epochBaseNs + nanoTime) / 1e6

  def context: String = Option(current.get).getOrElse("bg")

  /** A statement parsed inside a Bench rep (the tsql gate keys) stays
    * part of the rep. */
  def beginStatement(text: String): Unit =
    if (!context.startsWith("r")) begin("s", text)

  def beginRep(): Unit = {
    starts.get.clear() // a span left open by a throwing call ends with its rep
    begin("r", "")
  }

  private def begin(kind: String, text: String): Unit = {
    val id = kind + seq.incrementAndGet()
    current.set(id)
    SparkSession.getDefaultSession.foreach { s =>
      val sc = s.sparkContext
      sc.clearJobTags()
      sc.addJobTag(TagPrefix + id)
      sc.setLocalProperty(PhaseProperty, "exec")
    }
    events.add(s"""{"k":"ctx","ctx":"$id","thread":${Thread.currentThread().getId},""" +
      s""""t":${epochMs(System.nanoTime())},"text":${Json.str(text)}}""")
  }

  /** Marks the phase of the jobs this thread starts from now on. */
  def phase(p: String): Unit =
    SparkSession.getDefaultSession.foreach(_.sparkContext.setLocalProperty(PhaseProperty, p))

  /** Opens a span on this thread; [[exit]] closes the innermost one. */
  def enter(): Unit = starts.get.push(System.nanoTime())

  def exit(name: String): Unit = {
    val t1 = System.nanoTime()
    Option(starts.get.pollFirst()).foreach { t0 =>
      record(name, t0, t1, -1)
      if (name == "spark.codegen_compile") codegenNs.addAndGet(t1 - t0)
    }
  }

  /** Wire.encodeResponse's exit: the span plus the encoded size. */
  def encoded(result: Object): Unit = {
    val t1 = System.nanoTime()
    val bytes = result match {
      case Right(b: Array[Byte]) => b.length.toLong
      case _ => -1L
    }
    Option(starts.get.pollFirst()).foreach(t0 => record("protocol.encode", t0, t1, bytes))
  }

  private def record(name: String, t0: Long, t1: Long, bytes: Long): Unit =
    events.add(s"""{"k":"span","ctx":"$context","name":"$name","t":${epochMs(t0)},""" +
      s""""ns":${t1 - t0},"bytes":$bytes}""")

  def add(line: String): Unit = events.add(line)

  /** Drops what was recorded so far and notes the GC time to date. */
  def reset(): Unit = {
    events.clear()
    events.add(s"""{"k":"jvm0","gc_ms":$gcMs}""")
  }

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  /** Writes every recorded event, one JSON object per line, then the
    * JVM's GC time and the codegen compile time since it started, and
    * what the agent instrumented per span name. */
  def dump(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val lines = events.asScala.toSeq :+
      s"""{"k":"jvm","gc_ms":$gcMs,"codegen_ms":${codegenNs.get / 1e6}}""" :+
      s"""{"k":"agent","instrumented":${Agent.instrumentedJson()}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

private[perfbench] object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
