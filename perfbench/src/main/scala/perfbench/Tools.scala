package perfbench

/** Re-pins the read workloads' output fingerprints from a `graft.Verify`
  * output directory that `tools/check.py` has passed against the DuckDB
  * oracle on the same tables. Each query is fingerprinted twice — its
  * live result and the checked parquet read back — and must agree. */
object Pin {
  def run(ctx: Ctx): Unit = {
    val o = ctx.opts
    val verified = o.pinFrom.get
    ctx.newSession()
    val spark = ctx.spark
    val names = ReadWorkload.panels.values.flatten.toSeq.sorted
    val pins = names.map { q =>
      val live = Fingerprint.of(graft.Queries.all(q)(spark, o.data))
      val checked = Fingerprint.of(spark.read.parquet(s"$verified/$q"))
      require(live == checked,
        s"$q: live ${live.render} differs from checked output ${checked.render}")
      spark.catalog.clearCache()
      println(s"pin $q ${live.render}")
      q -> live
    }
    Fingerprint.save(o.pins, Seq(
      "Output fingerprints of the read-workload queries: name, rows, hash.",
      "Taken from outputs that pass tools/check.py (the DuckDB oracle) on",
      "the benchmark tables; regenerate with `python3 perfbench/run.py --pin <verify-out>`."),
      pins)
  }
}

/** One traced execution of every declared query (after one warm-up
  * execution each) on `--data`, printing the construct / plan / execute
  * split and the job, stage and task totals, a line per query, and for
  * each read workload its panel against the whole workload: family
  * seconds, the panel weights they give, and the layer shares of the
  * weighted panel next to the workload's. */
object Census {
  def run(ctx: Ctx): Unit = {
    val o = ctx.opts
    ctx.newSession()
    val spark = ctx.spark
    val tracer = new Tracer(spark.sparkContext, "census")
    val names = graft.Queries.all.keys.toSeq.sorted
    val owners = names.map(q => q -> ReadWorkload.families.filter(
      _._2.contains(ReadWorkload.familyOf(q))).keys.toSeq)
    owners.filter(_._2.size != 1).foreach { case (q, ws) =>
      println(s"census WARNING $q belongs to ${ws.size} read workloads") }
    names.foreach { q =>
      val fn = graft.Queries.all(q)
      fn(spark, o.data).queryExecution.toRdd.count()
      spark.catalog.clearCache()
      tracer.enable(true)
      tracer.span(q, "query") {
        val df = tracer.span(s"$q.construct", "construct")(fn(spark, o.data))
        tracer.span(s"$q.plan", "plan")(df.queryExecution.executedPlan)
        tracer.span(s"$q.execute", "execute")(df.queryExecution.toRdd.count())
      }
      tracer.enable(false)
      spark.catalog.clearCache()
    }
    val spans = tracer.spans
    val tr = new TraceReport(spans, tracer)
    val self = tr.selfByLayer.withDefaultValue(0.0)
    val all = tr.all
    val queries = spans.filter(_.layer == "query")
    println(f"census queries=${queries.size} construct_s=${self("construct")}%.2f " +
      f"plan_s=${self("plan")}%.2f execute_s=${self("execute")}%.2f " +
      f"wall_s=${queries.map(_.seconds).sum}%.2f " +
      s"jobs=${all.jobs} stages=${all.stages} tasks=${all.tasks} " +
      f"executor_cpu_s=${all.cpuNs / 1e9}%.2f")
    val kids = spans.groupBy(_.parent)
    val layers = Seq("construct", "plan", "execute")
    // wall, construct, plan, execute seconds of each query
    val secs = queries.map { q =>
      q.name -> (q.seconds +: layers.map(l =>
        kids.getOrElse(q.id, Nil).filter(_.layer == l).map(_.seconds).sum))
    }.toMap
    queries.foreach { q =>
      val c = tr.subtree(q)
      val Seq(w, cs, ps, es) = secs(q.name)
      println(f"census ${q.name}%-28s wall=$w%.3f construct=$cs%.3f plan=$ps%.3f " +
        f"execute=$es%.3f jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks}")
    }
    ReadWorkload.panels.toSeq.sortBy(_._1).foreach { case (w, panel) =>
      val fams = ReadWorkload.families(w)
      def famWall(qs: Seq[String], f: String) =
        qs.filter(ReadWorkload.familyOf(_) == f).map(secs(_).head).sum
      val suite = names.filter(q => fams.contains(ReadWorkload.familyOf(q)))
      val weight = fams.map { f =>
        val (s, p) = (famWall(suite, f), famWall(panel, f))
        println(f"census panel $w family=$f suite_s=$s%.3f panel_s=$p%.3f " +
          f"suite_share=${s / suite.map(secs(_).head).sum}%.3f")
        f -> (if (p > 0) s / p else Double.NaN)
      }.toMap
      panel.foreach { q =>
        println(f"census weight $w $q ${weight(ReadWorkload.familyOf(q))}%.3f") }
      def shares(qs: Seq[String], wt: String => Double) = {
        val tot = layers.indices.map(i => qs.map(q => wt(q) * secs(q)(i + 1)).sum)
        tot.map(_ / tot.sum)
      }
      val Seq(sc, sp, se) = shares(suite, _ => 1.0)
      val Seq(pc, pp, pe) = shares(panel, q => weight(ReadWorkload.familyOf(q)))
      val Seq(uc, up, ue) = shares(panel, _ => 1.0)
      println(f"census layers $w suite=$sc%.3f/$sp%.3f/$se%.3f " +
        f"weighted_panel=$pc%.3f/$pp%.3f/$pe%.3f unweighted_panel=$uc%.3f/$up%.3f/$ue%.3f")
    }
  }
}
