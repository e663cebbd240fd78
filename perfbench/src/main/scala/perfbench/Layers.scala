package perfbench

/** Per-layer metrics of a traced run. Every figure is per traced unit
  * of work (a pass of a read workload, a batch of `ingest`), so runs
  * of any length compare. */
object Layers {

  /** The per-layer metrics every workload reports. `traced` are the wall
    * seconds of the traced passes or batches; `overheadFrac` is what the
    * workload measured tracing to cost. */
  def report(ctx: Ctx, spans: Seq[Span], tracer: Tracer, traced: Seq[Double],
      overheadFrac: Double, outputRows: Long): Seq[Metric] = {
    val tr = new TraceReport(spans, tracer)
    val n = traced.size.toDouble
    val self = tr.selfByLayer.withDefaultValue(0.0)
    def layer(l: String) = tr.countersOf(_.layer == l)
    val construct = layer("construct")
    val execute = layer("execute")
    val all = tr.all
    Seq(
      Metric("construct.self_s", self("construct") / n, "s"),
      Metric("construct.jobs", construct.jobs / n, "count"),
      Metric("plan.self_s", self("plan") / n, "s"),
      Metric("execute.self_s", self("execute") / n, "s"),
      Metric("execute.jobs", execute.jobs / n, "count"),
      Metric("execute.stages", execute.stages / n, "count"),
      Metric("execute.tasks", execute.tasks / n, "count"),
      Metric("executor.cpu_s", all.cpuNs / 1e9 / n, "s"),
      Metric("executor.run_s", all.runMs / 1e3 / n, "s"),
      Metric("executor.gc_s", all.gcMs / 1e3 / n, "s"),
      Metric("executor.core_util", all.runMs / 1e3 / (traced.sum * ctx.cores), "ratio"),
      Metric("stage.single_task_frac",
        all.singleTaskStages.toDouble / math.max(1L, all.stages), "ratio"),
      Metric("shuffle.write_bytes", all.shuffleWrite / n, "B"),
      Metric("shuffle.read_bytes", all.shuffleRead / n, "B"),
      Metric("spill.bytes", all.spill / n, "B"),
      Metric("scan.records_read", all.recordsRead / n, "count"),
      Metric("scan.bytes_read", all.bytesRead / n, "B"),
      Metric("scan.records_per_output_row",
        all.recordsRead.toDouble / math.max(1L, outputRows), "ratio"),
      Metric("tables.load_cold_s", ctx.tablesCold, "s"),
      Metric("tables.load_warm_s", ctx.tablesWarm, "s"),
      Metric("fs.read_ops", all.fsReadOps / n, "count"),
      Metric("fs.write_ops", all.fsWriteOps / n, "count"),
      Metric("trace.overhead_frac", overheadFrac, "ratio"))
  }

  /** Read workloads: per-family and per-probe-query figures of the
    * traced passes, and what the traced passes saw outside any span. */
  def queryDetail(spans: Seq[Span], tracer: Tracer): Seq[Metric] = {
    val tr = new TraceReport(spans, tracer)
    val queries = spans.filter(_.layer == "query")
    val kids = spans.groupBy(_.parent)
    def part(q: Span, layer: String): Double =
      kids.getOrElse(q.id, Nil).filter(_.layer == layer).map(_.seconds).sum
    val passes = queries.groupBy(_.name).values.map(_.size).max.toDouble
    val family = queries.groupBy(_.name.takeWhile(_.isLetter)).toSeq.sortBy(_._1)
      .flatMap { case (f, qs) => Seq(
        Metric(s"family.$f.wall_s", qs.map(_.seconds).sum / passes, "s"),
        Metric(s"family.$f.construct_s", qs.map(part(_, "construct")).sum / passes, "s"),
        Metric(s"family.$f.jobs", qs.map(tr.subtree(_).jobs).sum / passes, "count"))
      }
    val probes = ReadWorkload.probes.flatMap { name =>
      val qs = queries.filter(_.name == name)
      if (qs.isEmpty) Nil
      else Seq(
        Metric(s"query.$name.wall_s", Stats.median(qs.map(_.seconds)), "s"),
        Metric(s"query.$name.construct_s", Stats.median(qs.map(part(_, "construct"))), "s"),
        Metric(s"query.$name.cpu_s",
          Stats.median(qs.map(q => tr.subtree(q).cpuNs / 1e9)), "s"))
    }
    val all = tr.all
    val fetchWait = all.fetchWaitMs / 1e3 / passes
    family ++ probes ++ Seq(
      Metric("shuffle.fetch_wait_s", fetchWait, "s"),
      Metric("unattributed.jobs", tracer.counters(0).jobs / passes, "count"),
      Metric("unattributed.stages", tracer.counters(0).stages / passes, "count"))
  }
}
