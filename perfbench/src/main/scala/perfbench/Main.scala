package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs and a fixed op sequence. */
trait Workload {
  /** Generates the seeded inputs under `dir` and builds version 1. */
  def setup(dir: String): Unit
  /** Untimed ops of every kind, after set-up. */
  def warmup(h: Harness): Unit
  /** The fixed op sequence of the timed phase. */
  def round(h: Harness): Unit
  /** Checks made once the timed phase is over. */
  def finalChecks(h: Harness): Unit
  /** Directories whose bytes and files count as the workload's stores. */
  def storeRoots: Seq[String]
  /** Bytes of input the stores currently hold data from. */
  def inputBytes: Long
  /** Per-layer values that are state or totals at the end of the run,
    * given the per-layer values measured so far. */
  def endState(h: Harness, layers: Map[String, Double]): Map[String, Double] = Map.empty
  /** Per-layer metrics of the layers this workload bypasses; the traced
    * run reports them as 0. Every other per-layer metric is measured. */
  def bypassed: Seq[String]
}

/** Per-layer metric names of the layers some workload bypasses. */
object Layers {
  val orchestrate = Seq("orchestrate.stage_ms.transform_golden", "orchestrate.stage_ms.catalog_refresh",
    "orchestrate.retries")
  val r2g = Seq("jobs.r2g_run_ms")
  val ingest = Seq("jobs.ingest_batch_ms", "jobs.ingest_rows_per_s")
  val plan = Seq("plan.maintain_ms.append", "plan.maintain_ms.dim_append", "plan.maintain_ms.retract",
    "plan.maintain_ms.vacuum", "plan.register_ms", "plan.jobs_per_maintain", "plan.serve_hit_ratio",
    "plan.serve_ms.hit", "plan.serve_ms.miss")
  val versioned = Seq("sources.publishes", "sources.pool_batches", "sources.snapshot_versions")
  val curate = Seq("curate.append_ms", "curate.delete_ms", "curate.load_ms", "curate.topk_ms",
    "curate.pool_batches")
  val dedup = Seq("dedup.admit_ratio", "dedup.rejected")
}

/** The benchmark command (run through `perfbench/run.py`):
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <temp root> --out <dir> [--scale <x>] [--corrupt-check 1]
  * }}}
  *
  * Set-up (session start, input generation, v1 builds and warm-up) is
  * timed and charged to `setup_s`. Then exactly one round of the
  * workload's fixed op sequence runs in a closed loop, however long it
  * takes: the seed alone fixes the ops. `--seconds` is the budget the
  * round's time is reported against. The last stdout line carries every
  * metric. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, scale: Double, corrupt: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"),
      m.get("scale").map(_.toDouble).getOrElse(1.0),
      m.get("corrupt-check").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  /** /proc/stat steal jiffies and the host's CPU count. */
  private def stealJiffies(): (Long, Int) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val lines = src.getLines().toList
      val steal = lines.find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
        .filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
      (steal, lines.count(_.matches("cpu\\d+ .*")))
    } catch { case _: Exception => (0L, 1) }
    finally src.close()
  }

  private def loadavg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** A fixed single-threaded CPU loop; its time labels how loaded the
    * host was while the run measured. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L; var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def workloadOf(name: String, spark: SparkSession, o: Opts): Workload = name match {
    case "bank_daily_etl" => new BankDailyEtl(spark, o.seed, o.scale, o.corrupt)
    case "summary_tier" => new SummaryTier(spark, o.seed, o.scale, o.corrupt)
    case "retrieval_ingest" => new RetrievalIngest(spark, o.seed, o.scale, o.corrupt)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def run(o: Opts): Int = {
    val (steal0, hostCpus) = stealJiffies()
    val runT0 = System.nanoTime()
    val cpus = math.max(1, math.min(Runtime.getRuntime.availableProcessors, 4))
    val work = new java.io.File(o.work).getAbsoluteFile
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getAbsoluteFile
    Seq("warehouse", "local", "checkpoints", "rdd-checkpoints").foreach(d => new java.io.File(work, d).mkdirs())
    tmp.mkdirs()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").toString)
      .config("spark.local.dir", new java.io.File(work, "local").toString)
      .config("spark.sql.streaming.checkpointLocation", new java.io.File(work, "checkpoints").toString)
      .config("spark.hadoop.hadoop.tmp.dir", tmp.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(new java.io.File(work, "rdd-checkpoints").toString)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w = workloadOf(o.workload, spark, o)
    val h = new Harness(spark, o.trace, tmp, () => w.storeRoots)
    val g0 = System.nanoTime()
    w.setup(new java.io.File(work, "data").toString)
    val w0 = System.nanoTime()
    w.warmup(h)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val buildS = (w0 - g0) / 1e9
    val setupS = sessionS + buildS + warmupS

    val layer = new LayerListener
    val phases = new PhaseListener
    if (o.trace) {
      spark.sparkContext.addSparkListener(layer)
      spark.listenerManager.register(phases)
    }
    val calibrationS = calibrate()
    val timedT0 = System.nanoTime()
    h.timed(w.round(h))
    val timedS = (System.nanoTime() - timedT0) / 1e9
    val storedPerInput = Stores.bytesUnder(w.storeRoots).toDouble / math.max(1L, w.inputBytes)
    val retainedMb = h.retainedHeapMb
    h.phase = "check"
    w.finalChecks(h)

    val e2e = Report.endToEnd(h, setupS, storedPerInput, retainedMb)
    val layers =
      if (!o.trace) Map.empty[String, Double]
      else {
        Listeners.drain(layer, phases)
        val l = Report.perLayer(h, layer, phases)
        w.bypassed.map(_ -> 0.0).toMap ++ l ++ w.endState(h, l)
      }
    val (steal1, _) = stealJiffies()
    val runS = (System.nanoTime() - runT0) / 1e9
    val timed = h.timedOps
    val failed = h.failedCount
    val labels = Seq[(String, Any)](
      "workload" -> o.workload, "seed" -> o.seed, "master" -> s"local[$cpus]",
      "trace" -> o.trace, "scale" -> o.scale,
      "loadavg_1m" -> loadavg1m(),
      "steal_share" -> (steal1 - steal0).toDouble / math.max(1e-9, runS * 100.0 * hostCpus),
      "calibration_s" -> calibrationS,
      "session_s" -> sessionS, "setup_build_s" -> buildS, "warmup_s" -> warmupS,
      "budget_s" -> o.seconds, "timed_s" -> timedS,
      "writes" -> timed.count(_.cls == "write"), "reads" -> timed.count(_.cls == "read"),
      "failed_op_frac" -> failed.toDouble / math.max(1, h.attempted),
      "check_failures" -> h.checkFailures.toSeq)

    if (o.trace) writeTrace(o, h, labels, layers)
    val result = Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> h.attempted,
      "failed" -> failed,
      "labels" -> Json.RawObj(Json.obj(labels)),
      "end_to_end" -> Json.RawObj(Json.obj(e2e.map { case (n, v, u) =>
        n -> Json.RawObj(Json.obj(Seq("value" -> v, "unit" -> u))) })),
      "per_layer" -> Json.RawObj(Json.obj(layers.toSeq.sortBy(_._1)))))
    println("PERFBENCH_RESULT " + result)
    spark.stop()
    if (failed == 0) 0 else 1
  }

  /** The traced run's spans (name, start, end, parent, op) and op
    * records, written once at exit. */
  private def writeTrace(o: Opts, h: Harness, labels: Seq[(String, Any)],
                         layers: Map[String, Double]): Unit = {
    val dir = new java.io.File(o.out)
    dir.mkdirs()
    val t0 = h.ops.headOption.map(_.startNs).getOrElse(0L)
    // self time: the span's duration minus what its children cover
    val childMs = h.spans.filter(_.parent >= 0).groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val spans = h.spans.map(s => Json.RawObj(Json.obj(Seq(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
      "self_ms" -> (s.ms - childMs.getOrElse(s.id, 0.0)))))).toSeq
    val ops = h.ops.map(r => Json.RawObj(Json.obj(Seq(
      "id" -> r.id, "kind" -> r.kind, "class" -> r.cls, "timed" -> r.timed,
      "start_ms" -> (r.startNs - t0) / 1e6, "end_ms" -> (r.endNs - t0) / 1e6,
      "rows" -> r.rows, "failed" -> r.failed, "wrong" -> r.wrong,
      "residue_rdds" -> r.residueRdds, "residue_temp_dirs" -> r.residueTmp,
      "files_written" -> r.filesWritten, "bytes_written" -> r.bytesWritten)))).toSeq
    val body = Json.obj(Seq(
      "labels" -> Json.RawObj(Json.obj(labels)),
      "per_layer" -> Json.RawObj(Json.obj(layers.toSeq.sortBy(_._1))),
      "ops" -> ops, "spans" -> spans))
    val f = new java.io.File(dir, s"trace-${o.workload}-s${o.seed}.json")
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  final case class RawObj(json: String)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case RawObj(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
