package perfbench

/** Turns the timed ops (and, in the traced run, spans and listener
  * records) into the named metrics. */
object Report {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Summed op latencies of the timed round: the input → complete-result
    * time of the fixed op sequence, without the checks and bookkeeping
    * between ops. */
  def roundSeconds(ops: Seq[OpRec]): Double = ops.map(_.ms).sum / 1000.0

  def endToEnd(h: Harness, setupS: Double, storedPerInput: Double,
               retainedHeapMb: Double): Seq[(String, Double, String)] = {
    val ops = h.timedOps
    val writes = ops.filter(_.cls == "write")
    val reads = ops.filter(_.cls == "read")
    Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", roundSeconds(ops), "s"),
      ("write_p50_ms", median(writes.map(_.ms)), "ms"),
      ("write_rows_per_s", writes.map(_.rows).sum / math.max(1e-9, writes.map(_.ms).sum / 1000.0), "rows/s"),
      ("read_p50_ms", median(reads.map(_.ms)), "ms"),
      ("stored_bytes_per_input_byte", storedPerInput, "ratio"),
      ("retained_heap_mb", retainedHeapMb, "MB"))
  }

  /** The per-layer metrics of a traced run. Jobs carry the id of the
    * innermost span open when they were submitted; planning records are
    * placed by time (the loop is single-threaded). */
  def perLayer(h: Harness, l: LayerListener, p: PhaseListener): Map[String, Double] = {
    val ops = h.timedOps
    val opOf = ops.map(o => o.id -> o).toMap
    val spans = h.spans
    def opAt(ms: Long): Option[OpRec] = ops.find(o => o.startMs <= ms && ms <= o.endMs)
    val (jobs, stageJob, stagesRun, tasks, qes) =
      l.synchronized(p.synchronized(
        (l.jobs.values.toList, l.stageJob.toMap, l.stagesRun.toSet, l.tasks.toList, p.recs.toList)))
    val jobsByOp = jobs.flatMap { j =>
      val o = if (j.span >= 0 && j.span < spans.size) opOf.get(spans(j.span).op) else opAt(j.startMs)
      o.map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val tasksByStage = tasks.groupBy(_.stage)
    val qesByOp = qes.flatMap(q => opAt(q.atMs).map(_.id -> q))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

    final case class OpLayer(actions: Int, jobs: Int, stages: Int, tasks: Int, gapMs: Double,
                             t: List[l.TaskRec], skew: Option[Double])
    def layerOf(o: OpRec): OpLayer = {
      val js = jobsByOp.getOrElse(o.id, Nil)
      val jobIds = js.map(_.id).toSet
      val stages = stagesRun.filter(s => stageJob.get(s).exists(jobIds))
      val ts = stages.toList.flatMap(s => tasksByStage.getOrElse(s, Nil))
      // union of the op's job intervals, clipped to the op
      val iv = js.map(j => (math.max(j.startMs, o.startMs),
        math.min(if (j.endMs < 0) o.endMs else j.endMs, o.endMs))).filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      val skew = stages.toList.map(s => tasksByStage.getOrElse(s, Nil))
        .filter(_.nonEmpty).sortBy(-_.map(_.durMs).sum).headOption
        .map(st => st.map(_.durMs).max.toDouble / math.max(1.0, median(st.map(_.durMs.toDouble))))
      OpLayer(qesByOp.getOrElse(o.id, Nil).size, js.size, stages.size, ts.size,
        math.max(0.0, o.ms - covered), ts, skew)
    }
    val layers = ops.map(o => o.id -> layerOf(o)).toMap

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (cls <- Seq("write", "read")) {
      val cOps = ops.filter(_.cls == cls)
      def med(f: OpLayer => Double): Double = median(cOps.map(o => f(layers(o.id))))
      val cQes = cOps.flatMap(o => qesByOp.getOrElse(o.id, Nil))
      out(s"catalyst.analysis_ms.$cls") = median(cQes.map(_.analysisMs.toDouble))
      out(s"catalyst.optimization_ms.$cls") = median(cQes.map(_.optimizationMs.toDouble))
      out(s"catalyst.planning_ms.$cls") = median(cQes.map(_.planningMs.toDouble))
      out(s"catalyst.graft_rule_ms.$cls") = median(cQes.map(_.graftRuleMs))
      out(s"driver.actions.$cls") = med(_.actions)
      out(s"driver.jobs.$cls") = med(_.jobs)
      out(s"driver.stages.$cls") = med(_.stages)
      out(s"driver.tasks.$cls") = med(_.tasks)
      out(s"driver.gap_ms.$cls") = med(_.gapMs)
      out(s"executor.run_ms.$cls") = med(_.t.map(_.runMs).sum.toDouble)
      out(s"executor.cpu_ms.$cls") = med(_.t.map(_.cpuNs).sum / 1e6)
      out(s"executor.gc_ms.$cls") = med(_.t.map(_.gcMs).sum.toDouble)
      out(s"executor.shuffle_read_bytes.$cls") = med(_.t.map(_.shuffleRead).sum.toDouble)
      out(s"executor.shuffle_write_bytes.$cls") = med(_.t.map(_.shuffleWrite).sum.toDouble)
      out(s"executor.fetch_wait_ms.$cls") = med(_.t.map(_.fetchWaitMs).sum.toDouble)
      out(s"executor.spill_bytes.$cls") = med(_.t.map(_.spill).sum.toDouble)
      out(s"executor.output_bytes.$cls") = med(_.t.map(_.output).sum.toDouble)
      out(s"executor.task_skew.$cls") = median(cOps.flatMap(o => layers(o.id).skew))
      out(s"jvm.driver_gc_ms.$cls") = median(cOps.map(_.gcMs.toDouble))
      out(s"residue.persisted_rdds.$cls") = cOps.map(_.residueRdds).sum.toDouble
      out(s"residue.temp_dirs.$cls") = cOps.map(_.residueTmp).sum.toDouble
    }
    val writes = ops.filter(_.cls == "write")
    out("sources.files_written") = median(writes.map(_.filesWritten.toDouble))
    val inBytes = writes.map(_.inBytes).sum
    out("sources.bytes_written_per_input_byte") =
      if (inBytes == 0) 0.0 else writes.map(_.bytesWritten).sum.toDouble / inBytes
    out("trace.wall_s") = roundSeconds(ops)
    out("trace.spans") = spans.count(s => opOf.contains(s.op)).toDouble
    // span "layer.call[.kind]" -> metric "layer.call_ms[.kind]": median duration
    spans.filter(s => opOf.contains(s.op)).groupBy(_.name).foreach { case (n, ss) =>
      val parts = n.split('.')
      val metric = ((parts.take(2).mkString(".") + "_ms") +: parts.drop(2)).mkString(".")
      out(metric) = median(ss.map(_.ms).toSeq)
    }
    h.samples.foreach { case (n, xs) => out(n) = median(xs.toSeq) }
    out.toMap
  }
}
