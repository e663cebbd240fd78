package perfbench

import scala.collection.mutable.ArrayBuffer

/** The two read workloads: closed-loop passes over a fixed panel of
  * graft's declared queries, one driver thread, the seed shuffling the
  * order in every pass. Each query execution is timed in three layers,
  * reached from outside: construct (`Queries.all(name)(spark, dir)`),
  * plan (`executedPlan`) and execute (`toRdd.count()`). */
object ReadWorkload {

  /** The query families of each read workload (a query's family is the
    * letters before its number); every declared query is in exactly one. */
  val families: Map[String, Seq[String]] = Map(
    "catalog_sql" -> Seq("a", "j", "w", "x", "p", "q", "f", "i", "k", "s"),
    "llm_pipeline" -> Seq("d", "v", "t", "m", "g"))

  def familyOf(query: String): String = query.takeWhile(_.isLetter)

  /** The queries each workload runs: a member of each family that fits a
    * run (families p, f, i and g do not), among them the heaviest layer
    * probes that fit, and a second member where one alone would tilt the
    * panel's construct / plan / execute split away from the workload's.
    * A pass of all 151 queries (about a minute on 4 cores) does not fit
    * a run; the census mode covers them. */
  val panels: Map[String, Seq[String]] = Map(
    "catalog_sql" -> Seq(
      "q1_pricing_summary", "a4_group_stats", "a14_rollup",
      "a1_dup_exam_groups", "j3_band_self_join", "w9_rolling_window",
      "s2_sessionize", "x2_db_disk_anti", "k15_time_travel"),
    "llm_pipeline" -> Seq(
      "d12_dedup_pipeline", "d4_ngram_jaccard", "t16_training_mix",
      "v1_ann_bruteforce", "m3_chunk_features"))

  /** Weight of each panel query in `pass_s`: the census seconds of its
    * family over the whole workload divided by the census seconds of the
    * family's panel members (`run.py --census` on the benchmark tables
    * prints them; README, "Panels against the full workloads"). The
    * weighted pass stands in for a pass of the whole workload, family by
    * family, less the families no panel query represents. */
  val weights: Map[String, Double] = Map(
    "q1_pricing_summary" -> 24.539, "a4_group_stats" -> 5.546,
    "a14_rollup" -> 5.546, "a1_dup_exam_groups" -> 5.546,
    "j3_band_self_join" -> 9.629, "w9_rolling_window" -> 5.196,
    "s2_sessionize" -> 6.955, "x2_db_disk_anti" -> 10.393,
    "k15_time_travel" -> 2.623,
    "d12_dedup_pipeline" -> 3.524, "d4_ngram_jaccard" -> 3.524,
    "t16_training_mix" -> 15.078, "v1_ann_bruteforce" -> 17.269,
    "m3_chunk_features" -> 4.925)

  /** The tables each panel reads. */
  val tables: Map[String, Seq[String]] = Map(
    "catalog_sql" -> Seq("lineitem", "events", "orders", "part"),
    "llm_pipeline" -> Seq("documents", "embeddings"))

  /** Queries whose wall, construct and CPU seconds the traced run
    * reports one by one. */
  val probes: Seq[String] = Seq(
    "d12_dedup_pipeline", "q1_pricing_summary", "a4_group_stats", "a14_rollup",
    "k15_time_travel")

  /** Pass seconds of each panel on a 4-core box; a run makes `seconds /
    * nominal` passes (at least three), so its work — and with it every
    * count — is fixed by `--seconds`, not by how fast the program is.
    * Passes still get faster for four or five passes after the warm-up
    * (the JIT is still compiling), so a run's median pass depends on how
    * fast that warming went; five timed passes put the median past most
    * of it. */
  val nominalPassSeconds: Map[String, Double] =
    Map("catalog_sql" -> 6.0, "llm_pipeline" -> 6.0)

  def passes(workload: String, seconds: Int): Int =
    math.max(3, (seconds / nominalPassSeconds(workload)).toInt)

  private final case class Exec(name: String, seconds: Double)

  def run(ctx: Ctx, boot: Double): Outcome = {
    val o = ctx.opts
    val panel = panels(o.workload)
    val pins = Fingerprint.load(o.pins)
    var attempted = 0L
    var failed = 0L
    def fail(msg: String): Unit = {
      failed += 1
      System.err.println(s"perfbench: FAIL $msg")
    }

    val sessionSetup = ctx.setUp(tables(o.workload))
    val spark = ctx.spark
    val tracer = new Tracer(spark.sparkContext, s"${o.workload}-${o.seed}")

    // warm-up pass: every query once, with the full output check
    val w0 = System.nanoTime()
    panel.foreach { q =>
      attempted += 1
      try {
        val got = Fingerprint.of(graft.Queries.all(q)(spark, o.data))
        pins.get(q) match {
          case Some(want) if want == got =>
          case want => fail(s"$q fingerprint ${got.render} != pinned ${want.map(_.render)}")
        }
      } catch { case e: Exception => fail(s"$q threw $e") }
      spark.catalog.clearCache()
    }
    val warmup = (System.nanoTime() - w0) / 1e9
    val setupS = Main.sinceProcessStart

    val rng = new scala.util.Random(o.seed)
    val execs = ArrayBuffer[Exec]()
    val passSecs = ArrayBuffer[(Boolean, Double)]()
    // the traced run traces every other pass, starting with the second;
    // the untraced passes after them measure what tracing costs
    val nPasses = passes(o.workload, o.seconds)
    for (p <- 0 until nPasses) {
      val traced = o.trace && p % 2 == 1
      tracer.enable(traced)
      System.gc()
      val p0 = System.nanoTime()
      rng.shuffle(panel).foreach { q =>
        attempted += 1
        try {
          val t0 = System.nanoTime()
          val n = tracer.span(q, "query") {
            val df = tracer.span(s"$q.construct", "construct") {
              graft.Queries.all(q)(spark, o.data)
            }
            tracer.span(s"$q.plan", "plan")(df.queryExecution.executedPlan)
            tracer.span(s"$q.execute", "execute")(df.queryExecution.toRdd.count())
          }
          execs += Exec(q, (System.nanoTime() - t0) / 1e9)
          if (!pins.get(q).exists(_.rows == n))
            fail(s"$q returned $n rows, pinned ${pins.get(q).map(_.rows)}")
        } catch { case e: Exception => fail(s"$q threw $e") }
        spark.catalog.clearCache()
      }
      passSecs += traced -> (System.nanoTime() - p0) / 1e9
    }
    tracer.enable(false)
    val liveHeap = ctx.liveHeapMb()

    val lat = execs.map(_.seconds).toSeq
    val tq = Stats.tailQ(lat.size)
    val perQuery = execs.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (q, es) => q -> Stats.median(es.map(_.seconds).toSeq) }
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      // a pass assembled from each query's median, weighted to the full
      // workload: one slow pass under a burst of outside load moves it
      // less than the median of passes
      Metric("pass_s", perQuery.map { case (q, m) => weights(q) * m }.sum, "s"),
      Metric("live_heap_mb", liveHeap, "MB"))
    val extra = Seq(
      Metric("peak_rss_mb", ctx.peakRssMb, "MB"),
      Metric("query_p50_s", Stats.median(lat), "s"),
      Metric("query_tail_s", Stats.quantile(lat, tq), "s"),
      Metric("setup.boot_s", boot, "s"),
      Metric("setup.session_s", sessionSetup, "s"),
      Metric("setup.warmup_s", warmup, "s"),
      Metric("query_tail_percentile", tq * 100, "%"),
      Metric("query_samples", lat.size, "count"),
      Metric("passes", nPasses, "count"),
      Metric("panel_pass_s", perQuery.map(_._2).sum, "s"),
      Metric("pass_min_s", passSecs.map(_._2).min, "s"),
      Metric("pass_max_s", passSecs.map(_._2).max, "s"),
      Metric("failed_frac", failed.toDouble / attempted, "ratio")) ++
      perQuery.map { case (q, m) => Metric(s"latency.$q.p50_s", m, "s") }

    val spans = if (o.trace) tracer.spans else Nil
    val perLayer =
      if (!o.trace) Nil
      else {
        // the first pass after the warm-up still runs partly cold code; the
        // tracing-cost comparison leaves it out
        val (tr, un) = passSecs.toSeq.drop(1).partition(_._1)
        val mean = (xs: Seq[(Boolean, Double)]) => xs.map(_._2).sum / xs.size
        Layers.report(ctx, spans, tracer, tr.map(_._2),
          overheadFrac = mean(tr) / mean(un) - 1,
          outputRows = spans.filter(_.layer == "query")
            .map(q => pins.get(q.name).map(_.rows).getOrElse(0L)).sum)
      }
    val detail = if (o.trace) Layers.queryDetail(spans, tracer) else Nil
    Outcome(attempted, failed, endToEnd, perLayer, extra ++ detail, spans)
  }
}
