package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plan.{RollupRewrite => R, RollupVersioned => RV}
import graft.sources.{Pq, Snapshots, VersionedPool}

/** A bank-shaped star under a versioned aggregate-join summary: daily
  * `payment_transaction` slices are the fact, an account dim joins
  * through [[RV.initJoined]]. Write ops run a fixed mix — fact-day
  * append, dim append, retraction of the oldest day (trash-protocol
  * delete + [[RV.refreshRemovedJoined]]) and vacuum — and each publish
  * re-registers the head version for the dashboards. Read ops are
  * dashboard aggregates over the head's as-of frames, served by the
  * [[R]] rule; one serve in thirteen groups by a column the summary
  * lacks, so the rule's cost on a miss shows. Appends and retractions balance,
  * so the fact window stays the same size from round to round. */
final class SummaryTier(spark: SparkSession, seed: Long, scale: Double,
                        corrupt: Boolean) extends Workload {
  private val window = 14
  private val txnPerDay = math.max(50, (4000 * scale).toInt)
  private val accountsPerSlice = math.max(10, (200 * scale).toInt)
  private val regions = Seq("north", "south", "east", "west")
  private val types = Seq("RGB", "BB", "WB", "SME", "PRV")
  private val layout = RV.Layout(Seq("acc_type_nm", "region", "tx_day"), Seq("amount"))
  private val keys = Seq("acc_id" -> "a_acc_id")
  private val everyKth = 10

  private var dir = ""
  private var rnd = new scala.util.Random(seed)
  private var firstDay = 0
  private var nextDay = 0
  private var dimSlices = 0
  private var served = 0
  private var asOf: (DataFrame, DataFrame) = _
  private var headBatch = ""
  private var hitsMeant = 0
  private var hitsServed = 0

  private def root = s"$dir/summary"
  private def factDir = s"$dir/fact"
  private def dimDir = s"$dir/dim"
  private def trash = s"$dir/trash"
  def storeRoots: Seq[String] = Seq(root)
  def inputBytes: Long = Stores.bytesUnder(Seq(factDir, dimDir))

  private val factSchema = StructType(Seq(StructField("trans_id", LongType),
    StructField("acc_id", LongType), StructField("tx_day", IntegerType),
    StructField("amount", LongType), StructField("pay_code", StringType)))
  private val dimSchema = StructType(Seq(StructField("a_acc_id", LongType),
    StructField("acc_type_nm", StringType), StructField("region", StringType)))

  /** Day `d`'s transactions. A tenth of them pay from the accounts of the
    * next, not yet landed dim slice: they join once that slice lands,
    * so the dim append meets old fact rows. */
  private def landDay(d: Int): (Long, Long) = {
    val g = new scala.util.Random(seed * 31 + d)
    val known = dimSlices * accountsPerSlice
    val rows = (0 until txnPerDay).map { i =>
      val acc = if (g.nextInt(10) == 0) known + g.nextInt(accountsPerSlice) else g.nextInt(known)
      Row(d.toLong * 1000000 + i, acc.toLong, d, 100L + g.nextInt(100000), s"PC${1 + g.nextInt(4)}")
    }
    val bytes = Gen.writeSlice(spark.createDataFrame(java.util.Arrays.asList(rows: _*), factSchema),
      s"$dir/staging", f"$factDir/d$d%05d.parquet")
    (rows.size.toLong, bytes)
  }

  private def landDimSlice(): (Long, Long) = {
    val g = new scala.util.Random(seed * 17 + dimSlices)
    val base = dimSlices * accountsPerSlice
    val rows = (0 until accountsPerSlice).map(a =>
      Row((base + a).toLong, types(g.nextInt(types.size)), regions(g.nextInt(regions.size))))
    val bytes = Gen.writeSlice(spark.createDataFrame(java.util.Arrays.asList(rows: _*), dimSchema),
      s"$dir/staging", f"$dimDir/a$dimSlices%05d.parquet")
    dimSlices += 1
    (rows.size.toLong, bytes)
  }

  private def fact = Pq.read(spark, factDir)
  private def dim = Pq.read(spark, dimDir)

  /** The dashboards follow the head: re-register it (the previous
    * registration is dropped) and keep its as-of frames. */
  private def registerHead(h: Harness): Unit = h.span("plan.register") {
    R.clear()
    asOf = RV.registerVersionJoined(spark, root)
  }

  def setup(d: String): Unit = {
    dir = d
    rnd = new scala.util.Random(seed)
    dimSlices = 0; served = 0; hitsMeant = 0; hitsServed = 0
    landDimSlice()
    firstDay = 0
    (0 until window).foreach(landDay)
    nextDay = window
    R.clear()
    RV.initJoined(spark, root, fact, dim, keys, layout)
    R.enable(spark)
    asOf = RV.registerVersionJoined(spark, root)
    headBatch = VersionedPool.manifestOf(spark, root).head
  }

  /** One maintenance op, timed from the maintenance call to the head's
    * re-registration; the input lands before the op starts. */
  private def maintain(h: Harness, kind: String, rows: Long, inBytes: Long)(body: => Option[Int]): Unit = {
    val v0 = if (h.tracing) Snapshots.latestVersion(spark, s"$root/meta").getOrElse(0) else 0
    val ok = h.op(kind, "write", rows) {
      val v = h.span(s"plan.maintain.$kind")(body)
      if (v.nonEmpty) registerHead(h)
      v
    }
    h.lastOp.inBytes = inBytes
    ok.foreach { v =>
      h.check(v.nonEmpty || kind == "vacuum", s"$kind published no version", Some(h.lastOp))
      if (v.nonEmpty) headBatch = VersionedPool.manifestOf(spark, root).head
    }
    if (h.tracing)
      h.sample("sources.publishes", Snapshots.latestVersion(spark, s"$root/meta").getOrElse(0) - v0.toDouble)
  }

  private def append(h: Harness): Unit = {
    val (rows, bytes) = landDay(nextDay)
    nextDay += 1
    maintain(h, "append", rows, bytes)(RV.refreshAppendedJoined(spark, root, fact, dim))
  }

  private def dimAppend(h: Harness): Unit = {
    val (rows, bytes) = landDimSlice()
    maintain(h, "dim_append", rows, bytes)(RV.refreshAppendedJoined(spark, root, fact, dim))
  }

  private def retract(h: Harness): Unit = {
    val file = f"$factDir/d$firstDay%05d.parquet"
    val rows = txnPerDay.toLong
    firstDay += 1
    maintain(h, "retract", rows, 0L) {
      h.span("plan.delete_files")(R.deleteFiles(spark, Seq(file), trash))
      RV.refreshRemovedJoined(spark, root, fact, dim, Seq(trash))
    }
  }

  /** Keeps the head and its predecessor, then empties the trash: no
    * kept version's retraction needs the removed files any more. */
  private def vacuum(h: Harness): Unit =
    maintain(h, "vacuum", 0L, 0L) {
      RV.vacuum(spark, root, keepLast = 2)
      Option(new java.io.File(trash).listFiles()).foreach(_.foreach(Stores.deleteRecursively))
      None
    }

  /** Dashboard shapes over the as-of join; the last one misses. */
  private def query(shape: Int, f: DataFrame, d: DataFrame): DataFrame = {
    val j = f.join(d, col("acc_id") === col("a_acc_id"))
    shape match {
      case 0 => j.groupBy("acc_type_nm").agg(sum("amount").as("s"), count(lit(1)).as("n"))
      case 1 => j.groupBy("tx_day").agg(sum("amount").as("s"), max("amount").as("mx"))
      case 2 => j.filter(col("region") === "north").groupBy("acc_type_nm", "tx_day")
        .agg(sum("amount").as("s"), min("amount").as("mn"))
      case 3 => j.groupBy("region").agg(count(lit(1)).as("n"), sum("amount").as("s"))
      case _ => j.groupBy("pay_code").agg(sum("amount").as("s"), count(lit(1)).as("n"))
    }
  }
  private val missShape = 4

  private def serve(h: Harness, shape: Int): Unit = {
    val (f, d) = asOf
    val res = h.op(if (shape == missShape) "serve_miss" else "serve_hit", "read") {
      val q = query(shape, f, d)
      (q, h.span(s"plan.serve.${if (shape == missShape) "miss" else "hit"}")(q.collect()))
    }
    served += 1
    res.foreach { case (q, rows) =>
      val op = h.lastOp
      if (shape != missShape) {
        val scans = R.scanRootPaths(q)
        val hit = scans.size == 1 && scans.head.endsWith(s"pool/$headBatch") &&
          q.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty
        if (h.phase == "timed") { hitsMeant += 1; if (hit) hitsServed += 1 }
        h.check(hit, s"serve must scan only the head's pool batch $headBatch, join-free: $scans", Some(op))
      }
      if (served % everyKth == 0) {
        R.disable(spark)
        val oracle = try query(shape, f, d).collect().map(_.toSeq).toSet finally R.enable(spark)
        val want = if (corrupt) oracle.map(r => r.updated(r.size - 1, 0L)) else oracle
        h.check(rows.map(_.toSeq).toSet == want,
          s"serve of shape $shape differs from the unrewritten aggregate", Some(op))
      }
    }
  }

  /** Three serves of each hit shape and one miss, in a seeded order. */
  private def serveBlock(h: Harness): Unit =
    rnd.shuffle(Seq.tabulate(3 * missShape)(_ % missShape) :+ missShape).foreach(serve(h, _))

  def warmup(h: Harness): Unit = {
    (0 to missShape).foreach(serve(h, _))
    append(h); retract(h)
  }

  /** Four maintenance ops, each followed by thirteen serves. */
  def round(h: Harness): Unit =
    Seq[Harness => Unit](append, dimAppend, retract, vacuum).foreach { w =>
      w(h)
      serveBlock(h)
    }

  def bypassed: Seq[String] = Layers.orchestrate ++ Layers.r2g ++ Layers.ingest ++ Layers.curate ++ Layers.dedup

  def finalChecks(h: Harness): Unit = {
    val (f, d) = asOf
    R.disable(spark)
    val base = try f.join(d, col("acc_id") === col("a_acc_id")).agg(sum("amount"), count(lit(1))).collect().head
    finally R.enable(spark)
    val head = RV.summaryOf(spark, root, None).agg(sum("__sum_amount"), sum(graft.plan.Rollup.CntRows)).collect().head
    h.check(base.getLong(0) == head.getLong(0) && base.getLong(1) == head.getLong(1),
      s"head summary totals $head differ from its as-of base $base")
    R.disable(spark); R.clear()
  }

  override def endState(h: Harness, layers: Map[String, Double]): Map[String, Double] = Map(
    "plan.serve_hit_ratio" -> hitsServed.toDouble / math.max(1, hitsMeant),
    "plan.jobs_per_maintain" -> layers.getOrElse("driver.jobs.write", 0.0),
    "sources.pool_batches" -> Option(new java.io.File(s"$root/pool").list()).map(_.length).getOrElse(0).toDouble,
    "sources.snapshot_versions" -> Snapshots.versions(spark, s"$root/meta").size.toDouble)
}
