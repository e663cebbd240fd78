package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{JdbcCatalog, PartitionedSnapshotLake}
import graft.DicomFixture
import graft.ingest.DicomLike
import graft.operators.{DedupOps, SimilarityOps}

/** The `ingest` workload: closed-loop batches of writes, each followed
  * by reads, modelled on the reference's ingest loop and the corpus
  * stores. A batch is a set of synthetic DICOM exams (some re-sent, to
  * force updates), a slice of the documents table and a slice of the
  * embeddings table. Its exams go through the header parse chain into
  * the partitioned lake and the JDBC catalog; the documents through the
  * dedup signature store; the vectors through the IVF vector store. The
  * seed fixes every batch; the final state is checked against models
  * computed without the program's stores. */
object Ingest {

  /** Batch seconds, reads included, on a 4-core box (6.3–7.9 s
    * measured); a run makes `seconds / nominal` batches, so its work is
    * fixed by `--seconds`. The batch sizes below (four new exams and one
    * re-send, 60 documents, 30 vectors) are not drawn from the
    * reference's loop: they were chosen so that a few batches fit a run
    * and maintenance fires in it. */
  val nominalBatchSeconds = 8.0
  val vacuumEvery = 3
  /** Vector-store cell size that triggers maintenance: a few cycles per
    * run at the batch sizes below. */
  val hotCell = 24L
  val probeK = 5

  def batches(seconds: Int): Int = math.max(3, (seconds / nominalBatchSeconds).toInt)

  private final case class Series(uid: String, echo: Int, files: Int, expected: Int)
  private final case class Exam(uid: String, day: Int, series: Seq[Series]) {
    def bytes: Seq[(String, Array[Byte])] = series.flatMap { s =>
      (1 to s.files).map(k => s"${s.uid}_e${s.echo}_$k.dcm" ->
        DicomFixture.simpleFile(s.uid, k, s.echo, s.expected))
    }
    /** The exam row the catalog should hold, computed from the spec. */
    def row: ExamRow = ExamRow(uid, series.size.toLong, series.map(_.files.toLong).sum,
      bytes.map(_._2.length.toLong).sum, series.exists(s => s.files != s.expected),
      new java.sql.Timestamp(java.sql.Timestamp.valueOf("2024-01-01 08:00:00").getTime +
        day * 86400000L))
  }
  final case class ExamRow(exam_uid: String, n_series: Long, n_files: Long,
      fsize: Long, any_corrupt: Boolean, study_ts: java.sql.Timestamp)

  private val examCols = Seq("exam_uid", "n_series", "n_files", "fsize",
    "any_corrupt", "study_ts")

  /** The seeded batch source. */
  private final class Source(seed: Long, docs: IndexedSeq[(Long, String)],
      vecs: IndexedSeq[(Long, Array[Double])]) {
    private val rng = new scala.util.Random(seed)
    private val sent = ArrayBuffer[Exam]()
    private val docOrder = rng.shuffle(docs.indices.toVector)
    private val vecOrder = rng.shuffle(vecs.indices.toVector)
    private var docPos, vecPos = 0

    private def series(examUid: String, s: Int): Seq[Series] = {
      val files = 3 + rng.nextInt(6)
      val expected = if (rng.nextInt(5) == 0) files + 1 else files
      val main = Series(f"$examUid.S$s%02d", 1, files, expected)
      if (rng.nextInt(4) == 0) Seq(main, main.copy(echo = 2)) else Seq(main)
    }

    private def exam(uid: String, day: Int): Exam =
      Exam(uid, day, (1 to 1 + rng.nextInt(3)).flatMap(series(uid, _)))

    /** Four new exams and a re-send of an earlier one (a re-send
      * re-acquires its series, so it usually changes the exam's row). */
    def exams(): Seq[Exam] = {
      val fresh = (0 until 4).map { _ =>
        val e = exam(f"E${sent.size}%05d", rng.nextInt(30))
        sent += e
        e
      }
      val again = if (sent.size <= fresh.size) Nil
        else {
          val e = sent(rng.nextInt(sent.size - fresh.size))
          Seq(exam(e.uid, e.day))
        }
      fresh ++ again
    }

    private def slice[A](all: IndexedSeq[A], order: Vector[Int], pos: Int, n: Int) =
      (0 until n).map(i => all(order((pos + i) % order.size)))

    def docSlice(): Seq[(Long, String)] = {
      val n = 60
      val out = slice(docs, docOrder, docPos, n).distinctBy(_._1)
      docPos += n
      out
    }

    def vecSlice(): Seq[(Long, Array[Double])] = {
      val n = 30
      val out = slice(vecs, vecOrder, vecPos, n).distinctBy(_._1)
      vecPos += n
      out
    }

    def probes(n: Int): Seq[(Long, Array[Double])] = (0 until n).map { i =>
      val v = Array.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (1000000L + i, v.map(_ / norm))
    }
  }

  /** One copy of the stores the workload writes to. */
  private final class Stores(spark: SparkSession, root: Path, val url: String,
      centroids: Seq[(Int, Array[Double])]) {
    val lake = root.resolve("lake").toString
    val sigs = root.resolve("signatures").toString
    val vecs = root.resolve("vectors").toString
    val cents = root.resolve("centroids").toString
    import spark.implicits._
    JdbcCatalog.write(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], examSchema), url, "EXAM", SaveMode.Overwrite)
    centroids.map { case (c, v) => (c, v.toSeq) }.toDF("cid", "cv")
      .coalesce(1).write.parquet(cents)
  }

  private val examSchema = StructType(Seq(
    StructField("exam_uid", StringType), StructField("n_series", LongType),
    StructField("n_files", LongType), StructField("fsize", LongType),
    StructField("any_corrupt", BooleanType), StructField("study_ts", TimestampType)))

  private def toRow(r: Row): ExamRow = ExamRow(r.getAs[String]("exam_uid"),
    r.getAs[Long]("n_series"), r.getAs[Long]("n_files"), r.getAs[Long]("fsize"),
    r.getAs[Boolean]("any_corrupt"), r.getAs[java.sql.Timestamp]("study_ts"))

  /** Top-k by cosine rounded to six decimals, ties by id: the probe's
    * ranking, computed by brute force on the driver. */
  private def bruteTopK(q: Array[Double], all: Iterable[(Long, Array[Double])]): Seq[Long] = {
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var dot, na, nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    all.toSeq.map { case (id, v) => (id, cos6(q, v)) }
      .sortBy { case (id, r) => (-r, id) }.take(probeK).map(_._1)
  }

  private def du(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Bytes of `df` written once as one compacted parquet file. */
  private def compacted(df: DataFrame, tmp: Path): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val n = Files.list(tmp)
    val bytes = try n.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
      finally n.close()
    deleteTree(tmp)
    bytes
  }

  def run(ctx: Ctx, boot: Double): Outcome = {
    val o = ctx.opts
    val work = Paths.get(o.work, "ingest")
    deleteTree(work)
    var attempted = 0L
    var failed = 0L
    def check(ok: Boolean, msg: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"perfbench: FAIL $msg") }
    }

    val sessionSetup = ctx.setUp(Seq("documents", "embeddings"))
    val spark = ctx.spark
    val docs = graft.Tables.load(spark, o.data, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val vecs = graft.Tables.load(spark, o.data, "embeddings").select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray)).toIndexedSeq
    val seedCells = (0 until 4).map(c => (c, vecs(c * 97 % vecs.size)._2))
    // a throwaway copy of the stores for the warm-up, and the measured one
    val Seq(scratch, st) = Seq("warmup", "measured").map(n => new Stores(spark,
      work.resolve(n), s"jdbc:derby:memory:perfbench_${o.seed}_$n;create=true", seedCells))
    import spark.implicits._
    val tracer = new Tracer(spark.sparkContext, s"ingest-${o.seed}")
    val src = new Source(o.seed, docs, vecs)
    val probes = src.probes(3)
    val probeDf = probes.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v")

    // model state, kept without the program's stores
    val latest = mutable.LinkedHashMap[String, ExamRow]()
    val allRows = ArrayBuffer[ExamRow]()
    val stored = mutable.LinkedHashMap[Long, Array[Double]]()
    val docArrivals = ArrayBuffer[Seq[Long]]()
    val verdicts = mutable.Map[(Int, Long), Boolean]()

    val batchSecs = ArrayBuffer[(Boolean, Double)]()
    val readSecs = ArrayBuffer[Double]()
    // seconds of each write step and each read, per measured batch; a
    // vector-store ingest that ran maintenance is kept as its own step
    val stepSecs = mutable.LinkedHashMap[String, mutable.Map[Int, Double]]()
    def steps(name: String) = stepSecs.getOrElseUpdate(name, mutable.Map())
    def isTraced(b: Int) = o.trace && b % 2 == 0
    var outputRows = 0L

    /** One batch: writes, then the reads that follow the commit. */
    def cycle(b: Int, st: Stores, traced: Boolean, checked: Boolean): Unit = {
      val exams = src.exams()
      val docSlice = src.docSlice()
      val vecSlice = src.vecSlice()
      // the batch arrives: its files land in its own directory
      val dir = work.resolve(s"arrivals/b$b")
      Files.createDirectories(dir)
      exams.flatMap(_.bytes).foreach { case (n, bytes) => Files.write(dir.resolve(n), bytes) }
      val days = exams.map(e => (e.uid, e.row.study_ts)).toDF("exam_uid", "study_ts")
      val docDf = docSlice.toDF("doc_id", "text")
      val vecDf = vecSlice.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v")

      def step[A](name: String)(f: => A): A = {
        val s0 = System.nanoTime()
        val out = tracer.span(name, name)(f)
        if (checked) steps(name)(b) = (System.nanoTime() - s0) / 1e9
        out
      }
      tracer.enable(traced)
      val t0 = System.nanoTime()
      tracer.span(s"batch$b", "batch") {
        val rows = step("ingest.parse") {
          val bin = spark.read.format("binaryFile").load(dir.toString)
          DicomLike.exams(DicomLike.stacks(DicomLike.headersOf(DicomLike.parseMeta(bin))))
            .join(days, "exam_uid").select(examCols.map(col): _*)
            .localCheckpoint(true)
        }
        step("catalog.commit") {
          PartitionedSnapshotLake.commitMerge(spark, st.lake, rows, "exam_uid", "study_ts")
        }
        step("jdbc.upsert")(JdbcCatalog.stagedUpsert(spark, st.url, "EXAM", rows, "exam_uid"))
        val v = step("dedup_store.probe_extend") {
          DedupOps.probeAndExtend(st.sigs, docDf).collect()
        }
        if (checked) v.foreach(r => verdicts((b, r.getLong(0))) = r.getBoolean(1))
        val cycled = step("vector_store.ingest") {
          SimilarityOps.vectorsToStore(st.vecs, st.cents, vecDf, hotCellThreshold = hotCell)
        }.nonEmpty
        if (checked && cycled)
          steps("vector_store.maintain")(b) = steps("vector_store.ingest").remove(b).get
        if (b % vacuumEvery == vacuumEvery - 1)
          step("catalog.vacuum") {
            PartitionedSnapshotLake.vacuum(spark, st.lake, retainSnapshots = 2,
              readerHazardMs = 0L)
          }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (!checked) { tracer.enable(false); return }
      batchSecs += traced -> secs

      exams.foreach { e => latest(e.uid) = e.row; allRows += e.row }
      docArrivals += docSlice.map(_._1)
      vecSlice.foreach { case (id, v) => stored(id) = v }

      // the reads that follow each commit, each checked against the model
      def read[A](name: String)(build: => DataFrame)(use: DataFrame => A): A = {
        val r0 = System.nanoTime()
        val out = tracer.span(name, name) {
          val df = tracer.span(s"$name.construct", "construct")(build)
          tracer.span(s"$name.plan", "plan")(df.queryExecution.executedPlan)
          tracer.span(s"$name.execute", "execute")(use(df))
        }
        val secs = (System.nanoTime() - r0) / 1e9
        readSecs += secs
        steps(name)(b) = secs
        out
      }
      val groups = read("catalog.read_latest") {
        PartitionedSnapshotLake.readLatest(spark, st.lake)
          .groupBy(to_date(col("study_ts")).as("day"), col("n_files"))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      }(_.queryExecution.toRdd.count())
      val wantGroups = latest.values.groupBy(r => (r.study_ts.toString.take(10), r.n_files))
        .count(_._2.size > 1)
      check(groups == wantGroups, s"batch $b: $groups dup groups in the lake, model $wantGroups")
      val scanned = read("jdbc.scan")(JdbcCatalog.scan(spark, st.url, "EXAM"))(
        _.queryExecution.toRdd.count())
      check(scanned == latest.size, s"batch $b: $scanned catalog rows, model ${latest.size}")
      val top = read("vector_store.probe") {
        SimilarityOps.probeVectorStore(st.vecs, spark.read.parquet(st.cents), probeDf,
          k = probeK, nprobe = 1 << 20, excludeSelf = false)
      }(_.collect())
      val got = top.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
      probes.foreach { case (q, v) =>
        val want = bruteTopK(v, stored)
        check(got.getOrElse(q, Nil) == want, s"batch $b probe $q: ${got.get(q)} != brute force $want")
      }
      outputRows += groups + scanned + top.length
      tracer.enable(false)
    }

    // warm-up: one batch cycle against the throwaway copy of the stores
    val w0 = System.nanoTime()
    cycle(-1, scratch, traced = false, checked = false)
    val warmup = (System.nanoTime() - w0) / 1e9
    val setupS = Main.sinceProcessStart

    val nBatches = batches(o.seconds)
    val p0 = System.nanoTime()
    for (b <- 0 until nBatches) cycle(b, st, isTraced(b), checked = true)
    val loopSecs = (System.nanoTime() - p0) / 1e9
    val liveHeap = ctx.liveHeapMb()
    attempted += nBatches

    // final state against the models
    val lakeRows = PartitionedSnapshotLake.readLatest(spark, st.lake)
      .select(examCols.map(col): _*).collect().map(toRow).toSet
    check(lakeRows == latest.values.toSet,
      s"lake latest state differs from the last-writer-wins model " +
        s"(${lakeRows.size} rows, model ${latest.size})")
    val jdbcRows = JdbcCatalog.scan(spark, st.url, "EXAM")
      .select(examCols.map(col): _*).collect().map(toRow).toSet
    check(jdbcRows == latest.values.toSet,
      s"catalog table differs from the last-writer-wins model " +
        s"(${jdbcRows.size} rows, model ${latest.size})")
    // dedup verdicts against the batch banding operator, replayed in
    // arrival order: a doc is a dup when a band of it is already
    // stored or is shared with a smaller doc id of its own batch
    val allDocs = docArrivals.flatten.distinct
    val text = docs.toMap
    val bands: Map[Long, Set[Long]] = DedupOps.bandHashes(
        allDocs.map(d => (d, text(d))).toSeq.toDF("doc_id", "text")
          .filter(length(col("text")) >= 8)
          .select(col("doc_id"), expr("md5_shingle60(text)").as("shingles")))
      .collect().groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    val storeBands = mutable.Set[Long]()
    var verdictMismatches = 0
    docArrivals.zipWithIndex.foreach { case (ids, b) =>
      val want = ids.map { d =>
        val mine = bands.getOrElse(d, Set.empty)
        d -> (mine.exists(storeBands) ||
          ids.exists(e => e < d && bands.getOrElse(e, Set.empty).exists(mine)))
      }
      want.foreach { case (d, dup) => if (verdicts.get((b, d)) != Some(dup)) verdictMismatches += 1 }
      want.filterNot(_._2).foreach { case (d, _) => storeBands ++= bands.getOrElse(d, Set.empty) }
    }
    check(verdictMismatches == 0, s"$verdictMismatches dedup verdicts differ from the batch model")
    val dupShare = verdicts.values.count(identity).toDouble / math.max(1, verdicts.size)

    // space: the lake and both stores on disk, against the same live
    // rows written once as compacted parquet
    val tmp = work.resolve("compacted")
    val onDisk = du(st.lake) + du(st.sigs) + du(st.vecs)
    val liveBytes =
      compacted(PartitionedSnapshotLake.readLatest(spark, st.lake).select(examCols.map(col): _*), tmp) +
        compacted(spark.read.parquet(st.sigs).distinct(), tmp) +
        compacted(spark.read.parquet(st.vecs).dropDuplicates("vec_id"), tmp)
    val userBytes = compacted(allRows.toSeq.toDF(), tmp)

    val batchLat = batchSecs.map(_._2).toSeq
    val readLat = readSecs.toSeq
    val bq = Stats.tailQ(batchLat.size)
    val rq = Stats.tailQ(readLat.size)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      // whole batches with their reads, vacuum and maintenance included
      Metric("pass_s", loopSecs / nBatches, "s"),
      Metric("live_heap_mb", liveHeap, "MB"))
    val extra = Seq(
      Metric("peak_rss_mb", ctx.peakRssMb, "MB"),
      Metric("query_p50_s", Stats.median(readLat), "s"),
      Metric("query_tail_s", Stats.quantile(readLat, rq), "s"),
      Metric("batch_p50_s", Stats.median(batchLat), "s"),
      Metric("batch_tail_s", Stats.quantile(batchLat, bq), "s"),
      Metric("batch_tail_percentile", bq * 100, "%"),
      Metric("batches", nBatches, "count"),
      Metric("read_p50_s", Stats.median(readLat), "s"),
      Metric("read_tail_s", Stats.quantile(readLat, rq), "s"),
      Metric("read_tail_percentile", rq * 100, "%"),
      Metric("reads", readLat.size, "count"),
      Metric("loop_s", loopSecs, "s"),
      Metric("setup.boot_s", boot, "s"),
      Metric("setup.session_s", sessionSetup, "s"),
      Metric("setup.warmup_s", warmup, "s"),
      Metric("space_amp", onDisk.toDouble / liveBytes, "ratio"),
      Metric("vector_store.maintenance_cycles", steps("vector_store.maintain").size, "count"),
      Metric("dedup_store.dup_share", dupShare, "ratio"),
      Metric("exams_live", latest.size, "count"),
      Metric("failed_frac", failed.toDouble / attempted, "ratio"))

    val spans = if (o.trace) tracer.spans else Nil
    // tracing cost: each step's median over the traced batches against
    // its median over the untraced ones, summed over the steps that ran
    // on both sides (vacuum and maintenance, which run in one batch of a
    // few, drop out), so that both sides hold the same kinds of work
    val paired = stepSecs.values.map(_.partition(kv => isTraced(kv._1)))
      .filter { case (t, u) => t.nonEmpty && u.nonEmpty }
    def sumOfMedians(side: Iterable[mutable.Map[Int, Double]]) =
      side.map(m => Stats.median(m.values.toSeq)).sum
    val perLayer = if (!o.trace) Nil
      else Layers.report(ctx, spans, tracer, batchSecs.filter(_._1).map(_._2).toSeq,
        overheadFrac = sumOfMedians(paired.map(_._1)) / sumOfMedians(paired.map(_._2)) - 1,
        outputRows)
    /** Median seconds of a step over the batches it ran in. */
    def stepMedian(name: String): Double =
      stepSecs.get(name).map(_.values.toSeq).filter(_.nonEmpty)
        .map(Stats.median).getOrElse(0.0)
    val detail = if (!o.trace) Nil else {
      val tr = new TraceReport(spans, tracer)
      val n = batchSecs.count(_._1).toDouble
      def secs(l: String) = spans.filter(_.layer == l).map(_.seconds).sum / n
      def fsOps(l: String) = spans.filter(_.layer == l).map(tr.subtree)
        .map(c => c.fsReadOps + c.fsWriteOps).sum / n
      val parse = tr.countersOf(_.layer == "ingest.parse")
      val commit = tr.countersOf(_.layer == "catalog.commit")
      Seq(
        Metric("ingest.parse_s", secs("ingest.parse"), "s"),
        Metric("ingest.jobs", parse.jobs / n, "count"),
        Metric("ingest.tasks", parse.tasks / n, "count"),
        Metric("ingest.cpu_s", parse.cpuNs / 1e9 / n, "s"),
        Metric("catalog.commit_s", secs("catalog.commit"), "s"),
        Metric("catalog.commit_fs_ops", fsOps("catalog.commit"), "count"),
        Metric("catalog.bytes_written_per_user_byte",
          commit.fsBytesWritten / n / (userBytes.toDouble / nBatches), "ratio"),
        Metric("catalog.vacuum_s", stepMedian("catalog.vacuum"), "s"),
        Metric("catalog.read_latest_s", secs("catalog.read_latest"), "s"),
        Metric("jdbc.upsert_s", secs("jdbc.upsert"), "s"),
        Metric("jdbc.scan_s", secs("jdbc.scan"), "s"),
        Metric("dedup_store.probe_extend_s", secs("dedup_store.probe_extend"), "s"),
        Metric("dedup_store.fs_ops", fsOps("dedup_store.probe_extend"), "count"),
        Metric("vector_store.ingest_s", stepMedian("vector_store.ingest"), "s"),
        Metric("vector_store.maintain_s", stepMedian("vector_store.maintain"), "s"),
        Metric("vector_store.probe_s", secs("vector_store.probe"), "s"),
        Metric("vector_store.fs_ops",
          fsOps("vector_store.ingest") + fsOps("vector_store.probe"), "count"))
    }
    Outcome(attempted, failed, endToEnd, perLayer, extra ++ detail, spans)
  }
}
