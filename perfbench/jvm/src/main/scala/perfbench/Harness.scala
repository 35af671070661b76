package perfbench

import org.apache.spark.sql.SparkSession

import graft.catalog.{Maintenance, SeriesMeta, TsCatalog}

/** Runs the shipped mains unchanged and gives perfbench/run.py a
  * control channel.
  *
  *  - `serve <catalogRoot> [<db> <series> <points.parquet>]` starts
  *    `graft.server.ServerMain` on an ephemeral port in this JVM, takes
  *    the session it built, optionally bulk-loads a series with
  *    `TsCatalog.insert` at the catalog's default bucket width, prints
  *    `PERFBENCH READY`, then reads commands from stdin: `reset` (drop
  *    recorded trace events), `dump <path>` and `maintain` (one
  *    `Maintenance.run` pass) until stdin closes or the process is
  *    killed.
  *  - `bench [<trace.jsonl>]` runs `graft.Bench` with its own settings
  *    (environment as given), writes the trace afterwards, and prints
  *    the JVM's peak RSS, its CPU time, and its CPU time when Bench's
  *    session appeared.
  *  - `wire <dir>` writes sample responses encoded by
  *    `graft.protocol.Wire`, for the wire client's self-test.
  */
object Harness {

  def main(args: Array[String]): Unit = args.toList match {
    case "serve" :: root :: load => serve(root, load)
    case "bench" :: trace =>
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      // the process CPU when Bench's session appears: JVM and Spark
      // start-up come before it
      val sessionCpuNs = new java.util.concurrent.atomic.AtomicLong(-1L)
      val watch = new Thread(() => {
        while (SparkSession.getDefaultSession.isEmpty) Thread.sleep(10)
        sessionCpuNs.set(os.getProcessCpuTime)
      }, "perfbench-session-watch")
      watch.setDaemon(true)
      watch.start()
      graft.Bench.main(Array.empty)
      trace.foreach(Spans.dump)
      println(s"PERFBENCH VMHWM_KB ${vmHwmKb()}")
      println(s"PERFBENCH CPU_NS ${os.getProcessCpuTime}")
      println(s"PERFBENCH SESSION_CPU_NS ${sessionCpuNs.get}")
    case "wire" :: dir :: Nil => wireSamples(dir)
    case _ =>
      System.err.println(
        "usage: Harness serve <root> [<db> <series> <parquet>] | bench [<trace>] | wire <dir>")
      sys.exit(2)
  }

  /** Records (i, i * 0.25 - 3) for i in [from, until), plus values
    * whose text needs care: a half-way 6th decimal and negative zero. */
  private def wireSamples(dir: String): Unit = {
    import graft.protocol.{Wire, WireResponse}
    def recs(from: Int, until: Int) = (from until until).map(i => (1704067200000000000L + i, i * 0.25 - 3))
    val special = Seq((1L, 0.0078125), (2L, -0.0), (3L, 123.456789))
    def bytes(rs: WireResponse*) = rs.map(r => Wire.encodeResponse(r).fold(sys.error, identity))
      .reduce(_ ++ _)
    val samples = Seq(
      "str_ok" -> bytes(WireResponse.Str(0, "using 'bench'")),
      "str_err" -> bytes(WireResponse.Str(1, "TsNotFound: timeseries 'x' not found")),
      "arr" -> bytes(WireResponse.Arr(special)),
      "arr_empty" -> bytes(WireResponse.Arr(Nil)),
      "stream" -> bytes(WireResponse.StreamChunk(recs(0, Wire.StreamBatchSize), isFinal = false),
        WireResponse.StreamChunk(recs(Wire.StreamBatchSize, Wire.StreamBatchSize + 3), isFinal = true)))
    samples.foreach { case (name, b) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name + ".bin"), b)
    }
  }

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  private def serve(root: String, load: List[String]): Unit = {
    val server = new Thread(() => graft.server.ServerMain.main(Array("0", root)), "perfbench-server")
    server.setDaemon(true)
    server.start()
    var session = SparkSession.getDefaultSession
    while (session.isEmpty) { Thread.sleep(10); session = SparkSession.getDefaultSession }
    val spark = session.get
    load match {
      case db :: series :: parquet :: Nil =>
        val t0 = System.nanoTime()
        val cat = new TsCatalog(spark, root)
        cat.createDb(db)
        cat.createSeries(db, series, SeriesMeta(None))
        val n = cat.insert(db, series, spark.read.parquet(parquet))
        println(f"PERFBENCH LOADED $n ${(System.nanoTime() - t0) / 1e9}%.6f")
      case Nil =>
      case other => sys.error(s"bad load arguments: $other")
    }
    println("PERFBENCH READY")
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    Iterator.continually(in.readLine()).takeWhile(_ != null).map(_.trim).foreach {
      case "reset" => Spans.reset(); println("PERFBENCH OK")
      case "maintain" =>
        val t0 = System.nanoTime()
        val done = Maintenance.run(new TsCatalog(spark, root), 8,
          graft.tsql.TimeEval.nowNanos())
        println(f"PERFBENCH MAINTAINED ${done.map(_._4).sum} ${(System.nanoTime() - t0) / 1e9}%.6f")
      case cmd if cmd.startsWith("dump ") =>
        Spans.dump(cmd.stripPrefix("dump ")); println("PERFBENCH OK")
      case other => println(s"PERFBENCH ERROR unknown command $other")
    }
    sys.exit(0)
  }
}
