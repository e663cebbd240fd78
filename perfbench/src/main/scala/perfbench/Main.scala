package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Command-line options; see `perfbench/run.py`, which builds the
  * program, generates the tables and passes these on. */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 30,
    trace: Boolean = false,
    data: String = "",
    work: String = "",
    pins: String = "",
    stamp: Seq[(String, String)] = Nil,
    pinFrom: Option[String] = None,
    census: Boolean = false)

object Opts {
  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--pins" :: v :: t => parse(t, o.copy(pins = v))
    case "--stamp" :: k :: v :: t => parse(t, o.copy(stamp = o.stamp :+ (k -> v)))
    case "--pin-from" :: v :: t => parse(t, o.copy(pinFrom = Some(v)))
    case "--census" :: t => parse(t, o.copy(census = true))
    case a :: _ => throw new IllegalArgumentException(s"unknown argument $a")
  }
}

/** What every workload reports back to [[Main]]. */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Seq[Metric], perLayer: Seq[Metric], extra: Seq[Metric],
    spans: Seq[Span])

/** Set-up shared by every workload, done once per process: a fresh
  * session, the native expressions registered, and the table
  * schema/row-count caches filled (timed cold, then again warm). */
final class Ctx(val opts: Opts) {
  val cores = 4
  private var session: SparkSession = _
  def spark: SparkSession = session

  /** Seconds of the cold and of the warm table-cache fill. */
  var tablesCold, tablesWarm = 0.0

  def newSession(): Unit = {
    if (session != null) session.stop()
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    graft.GraftFunctions.register(session)
  }

  /** Fills graft's per-path schema and row-count caches for `tables`;
    * returns seconds. */
  def loadTables(tables: Seq[String]): Double = {
    val t0 = System.nanoTime()
    tables.foreach { t =>
      graft.Tables.load(session, opts.data, t).schema
      graft.Tables.rowCount(session, opts.data, t)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Starts the session and fills the table caches; returns seconds. */
  def setUp(tables: Seq[String]): Double = {
    val t0 = System.nanoTime()
    newSession()
    tablesCold = loadTables(tables)
    tablesWarm = loadTables(tables)
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use right after a full collection, in MB: the program's
    * live set at the end of a run. Unlike the resident set it does not
    * depend on when the collector happened to run. */
  def liveHeapMb(): Double = {
    // the first collection lets Spark's cleaner thread drop broadcast
    // and shuffle blocks whose owners died; the second frees them
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssMb: Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
  }
}

object Main {
  /** Seconds from JVM start to now. */
  def sinceProcessStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(args: Array[String]): Unit = {
    val boot = sinceProcessStart
    val ctx = new Ctx(Opts.parse(args.toList))
    val status =
      try {
        if (ctx.opts.pinFrom.isDefined) { Pin.run(ctx); 0 }
        else if (ctx.opts.census) { Census.run(ctx); 0 }
        else report(ctx, boot)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally if (ctx.spark != null) ctx.spark.stop()
    sys.exit(status)
  }

  private def report(ctx: Ctx, boot: Double): Int = {
    val o = ctx.opts
    val out = o.workload match {
      case w if ReadWorkload.panels.contains(w) => ReadWorkload.run(ctx, boot)
      case "ingest" => Ingest.run(ctx, boot)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = ctx.spark
    val stamp = o.stamp ++ Seq(
      "workload" -> o.workload, "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString, "trace" -> (if (o.trace) "1" else "0"),
      "cores" -> ctx.cores.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "data" -> o.data)
    if (o.trace) writeSpans(ctx, out.spans, stamp)
    val shown = if (o.trace) out.perLayer else out.endToEnd
    println("meta " + Json.obj(stamp.map { case (k, v) => k -> Json.str(v) }))
    val elapsed = Metric("elapsed_s", sinceProcessStart, "s")
    (shown ++ out.extra :+ elapsed).foreach(m =>
      println(f"metric ${m.name}%-44s ${Json.num(m.value)}%s ${m.unit}"))
    val correct = out.failed == 0
    println(s"check ${if (correct) "ok" else "FAILED"}: ${out.failed} of " +
      s"${out.attempted} operations failed or returned wrong output")
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.metrics(shown))))
    0
  }

  /** Spans, one JSON object a line, under the work directory. */
  private def writeSpans(ctx: Ctx, spans: Seq[Span], stamp: Seq[(String, String)]): Unit = {
    val o = ctx.opts
    val dir = java.nio.file.Paths.get(o.work, "traces")
    java.nio.file.Files.createDirectories(dir)
    val lines = Json.obj(stamp.map { case (k, v) => k -> Json.str(v) }) +:
      spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "run" -> Json.str(s.run), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString)))
    java.nio.file.Files.write(dir.resolve(s"${o.workload}-seed${o.seed}.jsonl"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
