package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.curate.{Bm25, Bm25Versioned}
import graft.dedup.Dedup
import graft.jobs.StreamingIngest
import graft.sources.{Snapshots, VersionedPool}
import graft.streaming.Streaming

/** A seeded corpus over a Zipf vocabulary with a planted share of
  * near-duplicates. Version 1 is built by [[Bm25Versioned.init]] next to
  * a MinHash signature index. Write op = one [[StreamingIngest]]
  * micro-batch (dedup at ingest against the stored index) followed by
  * [[Bm25Versioned.append]] of the admitted docs; after each ingest a
  * [[Bm25Versioned.delete]] removes a few docs. Read op = BM25 top-k of
  * the latest version ([[Bm25Versioned.load]] +
  * [[Bm25.topKAgainstIncIndex]]). Pool batches grow through the run, so
  * fragmentation shows in the reads.
  *
  * Every document carries a token `t<id>` no other unique document has;
  * a planted query names one document's token and one of its words, and
  * its top-1 must be that document. A near-duplicate copies an earlier
  * document (admitted before, or earlier in the same batch) and swaps
  * its last word: its MinHash Jaccard estimate stays far above the 0.7
  * admission threshold, so the admitted set is exactly the planted
  * unique set. */
final class RetrievalIngest(spark: SparkSession, seed: Long, scale: Double,
                            corrupt: Boolean) extends Workload {
  private val vocab = 3000
  private val initialDocs = math.max(40, (1500 * scale).toInt)
  private val batchDocs = math.max(20, (300 * scale).toInt)
  private val deletesPerRound = math.max(2, (20 * scale).toInt)
  private val queriesPerRead = 8

  private var dir = ""
  private var gen = new scala.util.Random(seed)
  private var zipf = new Zipf(vocab, 1.05, gen)
  private var nextId = 0L
  private var batches = 0
  private var docs = Vector.empty[String]       // text by id
  private var uniques = Set.empty[Long]         // the planted-unique ids offered so far
  private var protectedIds = Vector.empty[Long] // query targets; never deleted
  private var deletable = Vector.empty[Long]
  private var deleted = Set.empty[Long]
  private var offeredBytes = 0L
  private var offered = 0L
  private var admitted = 0L

  private def root = s"$dir/bm25"
  private def indexPath = s"$dir/signatures"
  private def corpusPath = s"$dir/corpus"
  private def inDir = s"$dir/in"
  def storeRoots: Seq[String] = Seq(root, indexPath, corpusPath)
  def inputBytes: Long = offeredBytes

  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  private def uniqueDoc(): (Long, String) = {
    val id = nextId; nextId += 1
    val n = 30 + gen.nextInt(31)
    val text = (s"t$id" +: Seq.fill(n)(s"w${zipf.next()}")).mkString(" ")
    docs :+= text
    uniques += id
    (id, text)
  }

  private def nearDup(of: Long): (Long, String) = {
    val id = nextId; nextId += 1
    val words = docs(of.toInt).split(' ')
    val text = (words.init :+ s"x${gen.nextInt(1000000)}").mkString(" ")
    docs :+= text
    (id, text)
  }

  private def frame(rows: Seq[(Long, String)]) =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, t) => Row(i, t) }: _*), schema)

  def setup(d: String): Unit = {
    dir = d
    gen = new scala.util.Random(seed)
    zipf = new Zipf(vocab, 1.05, gen)
    nextId = 0; batches = 0; docs = Vector.empty; uniques = Set.empty
    deleted = Set.empty; offeredBytes = 0; offered = 0; admitted = 0
    val init = Seq.fill(initialDocs)(uniqueDoc())
    offeredBytes = init.map(_._2.length.toLong).sum
    val split = initialDocs / 2
    protectedIds = init.take(split).map(_._1).toVector
    deletable = init.drop(split).map(_._1).toVector
    val df = frame(init)
    df.write.parquet(corpusPath)
    Dedup.minhashSignatures(df, "doc_id", "text").write.parquet(indexPath)
    Bm25Versioned.init(spark, root, df, "doc_id", "text")
  }

  /** Lands one batch in the stream's input directory: four in five docs
    * unique, the rest near-duplicates split between admitted docs and
    * earlier rows of the same batch. */
  private def landBatch(): (Long, Long, Long) = {
    val lo = nextId
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    while (rows.size < batchDocs) {
      val r = gen.nextInt(10)
      val inBatch = rows.filter(x => uniques(x._1))
      if (r == 0 && inBatch.nonEmpty) rows += nearDup(inBatch(gen.nextInt(inBatch.size))._1)
      else if (r == 1) rows += nearDup(protectedIds(gen.nextInt(protectedIds.size)))
      else rows += uniqueDoc()
    }
    val bytes = rows.map(_._2.length.toLong).sum
    offeredBytes += bytes
    Gen.writeSlice(frame(rows.toSeq), s"$dir/staging", f"$inDir/batch-$batches%05d.parquet")
    batches += 1
    (lo, nextId - 1, bytes)
  }

  private def version = Snapshots.latestVersion(spark, VersionedPool.metaDir(root)).getOrElse(0)

  /** Versions an op published (traced runs list the store for it). */
  private def published[T](h: Harness)(body: => T): T =
    if (!h.tracing) body
    else {
      val v0 = version
      val r = body
      h.sample("sources.publishes", (version - v0).toDouble)
      r
    }

  private def ingest(h: Harness): Unit = published(h) {
    val (lo, hi, bytes) = landBatch()
    val n = hi - lo + 1
    def fresh = spark.read.parquet(corpusPath).filter(col("doc_id").between(lo, hi))
    val res = h.op("ingest", "write", n) {
      val q = h.span("jobs.ingest") {
        val q = StreamingIngest.run(spark, spark.readStream.schema(schema).parquet(inDir),
          indexPath, corpusPath, opts = Streaming.ForEachBatchOptions(
            checkpointLocation = Some(s"$dir/ingest-checkpoint"), availableNow = true))
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        q
      }
      h.span("curate.append")(Bm25Versioned.append(spark, root, fresh, "doc_id", "text"))
      q
    }
    h.lastOp.inBytes = bytes
    res.foreach { q =>
      val k = fresh.count()
      if (h.phase == "timed") { offered += n; admitted += k }
      h.sample("dedup.rejected", (n - k).toDouble)
      q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
        val ms = p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
        h.sample("jobs.ingest_batch_ms", ms)
        if (ms > 0) h.sample("jobs.ingest_rows_per_s", p.numInputRows * 1000.0 / ms)
      }
    }
    protectedIds :+= uniques.filter(i => i >= lo && i <= hi).max
  }

  private def delete(h: Harness): Unit = published(h) {
    val ids = Seq.fill(deletesPerRound)(deletable(gen.nextInt(deletable.size))).distinct
    deletable = deletable.filterNot(ids.toSet)
    deleted ++= ids
    h.op("delete", "write", ids.size.toLong) {
      h.span("curate.delete")(Bm25Versioned.delete(spark, root,
        spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
          StructType(Seq(StructField("doc_id", LongType)))), "doc_id"))
    }
  }

  private def read(h: Harness): Unit = {
    val targets = Seq.fill(queriesPerRead)(protectedIds(gen.nextInt(protectedIds.size)))
    val qs = targets.zipWithIndex.map { case (t, i) =>
      val words = docs(t.toInt).split(' ')
      (i.toLong, s"t$t ${words(1 + gen.nextInt(words.length - 1))}")
    }
    val qdf = spark.createDataFrame(java.util.Arrays.asList(qs.map { case (i, t) => Row(i, t) }: _*),
      StructType(Seq(StructField("qid", LongType), StructField("q", StringType))))
    h.op("topk", "read") {
      val idx = h.span("curate.load")(Bm25Versioned.load(spark, root))
      h.span("curate.topk")(Bm25.topKAgainstIncIndex(idx, qdf, "qid", "q", k = 10).collect())
    }.foreach { rows =>
      val top1 = rows.filter(_.getAs[Int]("rank") == 1).map(r => r.getAs[Long]("qid") -> r.getAs[Long]("doc_id")).toMap
      val want = targets.zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap
      h.check(top1 == want, s"planted queries' top-1 differ: ${(want.toSet diff top1.toSet).take(3)}", Some(h.lastOp))
    }
  }

  def warmup(h: Harness): Unit = {
    ingest(h); read(h)
  }

  /** An ingest and a delete, each followed by five reads. */
  def round(h: Harness): Unit =
    Seq[Harness => Unit](ingest, delete).foreach { w =>
      w(h)
      (0 until 5).foreach(_ => read(h))
    }

  def bypassed: Seq[String] = Layers.orchestrate ++ Layers.r2g ++ Layers.plan

  def finalChecks(h: Harness): Unit = {
    val ids = spark.read.parquet(corpusPath).select("doc_id").collect().map(_.getLong(0)).toSet
    val want = if (corrupt) uniques - uniques.max else uniques
    h.check(ids == want, s"admitted ids differ from the planted unique set: " +
      s"${(ids diff want).take(5)} admitted but planted as duplicates, ${(want diff ids).take(5)} missing")
    val idx = Bm25Versioned.load(spark, root)
    h.check(idx.nDocs == (uniques -- deleted).size.toDouble,
      s"index holds ${idx.nDocs} docs, expected ${(uniques -- deleted).size}")
  }

  override def endState(h: Harness, layers: Map[String, Double]): Map[String, Double] = Map(
    "dedup.admit_ratio" -> admitted.toDouble / math.max(1L, offered),
    "curate.pool_batches" -> VersionedPool.manifestOf(spark, root).size.toDouble,
    "sources.pool_batches" -> Option(new java.io.File(s"$root/pool").list()).map(_.length).getOrElse(0).toDouble,
    "sources.snapshot_versions" -> Snapshots.versions(spark, s"$root/meta").size.toDouble)
}
