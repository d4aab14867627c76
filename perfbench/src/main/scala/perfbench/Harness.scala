package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One operation of the closed loop: a single call sequence into the
  * engine's public API, timed from call to return. */
final case class OpRec(id: Int, kind: String, cls: String, timed: Boolean,
                       startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                       rows: Long, failed: Boolean, var wrong: Boolean,
                       residueRdds: Int, residueTmp: Int,
                       gcMs: Long, var filesWritten: Int,
                       var bytesWritten: Long, var inBytes: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One benchmark span: the benchmark's own call into one module. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, var endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The closed-loop harness: one client, each op starts when the previous
  * one returns. Ops run in a phase ("warmup" or "timed"); only timed ops
  * feed the metrics, every op's failure counts. Spans are recorded only
  * when tracing is on, kept in memory and written once at exit. */
final class Harness(val spark: SparkSession, val tracing: Boolean,
                    tmpRoot: java.io.File, storeRoots: () => Seq[String]) {
  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[Span]
  val checkFailures = ArrayBuffer.empty[String]
  private var unboundChecks = 0
  private var unboundFailed = 0
  var phase = "warmup"
  private var openOp = -1
  private var stack: List[Span] = Nil
  /** Workload-reported per-layer samples (timed phase only); the
    * per-layer value is their median. */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private def gcMillis: Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size
  private def tempEntries: Int = Option(tmpRoot.list()).map(_.length).getOrElse(0)

  /** Runs one op. Exceptions count the op as failed and do not stop the
    * loop; the result is None then. */
  def op[T](kind: String, cls: String, rows: Long = 0)(body: => T): Option[T] = {
    val id = ops.size
    val rdds0 = persisted
    val tmp0 = tempEntries
    val gc0 = gcMillis
    val files0 = if (tracing && cls == "write") Stores.snapshot(storeRoots()) else Map.empty[String, (Long, Long)]
    openOp = id
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Some(span(s"op.$kind")(body)) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] op $kind #$id failed: $e")
        e.printStackTrace()
        None
    }
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    openOp = -1
    val rec = OpRec(id, kind, cls, phase == "timed",
      t0, t1, ms0, ms1, rows, res.isEmpty, false,
      math.max(0, persisted - rdds0), math.max(0, tempEntries - tmp0),
      gcMillis - gc0, 0, 0L)
    if (tracing && cls == "write") {
      val written = Stores.written(files0, Stores.snapshot(storeRoots()))
      rec.filesWritten = written.size
      rec.bytesWritten = written.values.sum
    }
    ops += rec
    res
  }

  /** The op a check's outcome belongs to: the most recent one. */
  def lastOp: OpRec = ops.last

  def sample(name: String, v: Double): Unit =
    if (phase == "timed") samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** Runs the workload's fixed op sequence in the timed phase. */
  def timed(body: => Unit): Unit = {
    phase = "timed"
    body
  }

  /** Records a correctness check; a failed one marks `on` (when given)
    * as a wrong answer. Checks run outside op timing. */
  def check(ok: Boolean, what: => String, on: Option[OpRec] = None): Boolean = {
    if (on.isEmpty) unboundChecks += 1
    if (!ok) {
      val msg = s"[$phase] ${on.map(o => s"${o.kind}#${o.id}: ").getOrElse("")}$what"
      System.err.println(s"[perfbench] CHECK FAILED $msg")
      checkFailures += msg
      on match {
        case Some(o) => o.wrong = true
        case None => unboundFailed += 1
      }
    }
    ok
  }

  /** A benchmark span around one call into a module. The span id rides
    * on the thread's Spark local properties, so every job submitted
    * inside it (streaming threads inherit the property at start) is
    * attributed to the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), openOp,
        System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(Harness.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Harness.SpanKey, parent.map(_.id.toString).orNull)
      }
    }

  def timedOps: Seq[OpRec] = ops.toSeq.filter(_.timed)
  /** Driver heap still in use after a full collection: what the run
    * left in caches, memos and registries. Collections repeat, with a
    * pause between them, until one frees less than 1 MB: each pause lets
    * Spark's ContextCleaner drop the broadcasts and shuffles the
    * collection before found unreachable, and one pause is not always
    * enough for it. */
  def retainedHeapMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = collect()
    var cur = prev
    var i = 0
    do {
      Thread.sleep(500)
      prev = cur
      cur = collect()
      i += 1
    } while (prev - cur >= 1.0 && i < 8)
    cur
  }
  /** Ops plus the checks not tied to one op (the end-of-run checks). */
  def attempted: Int = ops.size + unboundChecks
  def failedCount: Int = ops.count(o => o.failed || o.wrong) + unboundFailed
}

object Harness {
  val SpanKey = "perfbench.span"
}

/** File-tree snapshots of the workload's stores, used by the traced run
  * to count the files and bytes each write op leaves behind. */
object Stores {
  def snapshot(roots: Seq[String]): Map[String, (Long, Long)] =
    roots.flatMap { r =>
      val p = java.nio.file.Paths.get(r)
      if (!java.nio.file.Files.exists(p)) Nil
      else {
        val s = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
            .map { f =>
              val a = java.nio.file.Files.readAttributes(f,
                classOf[java.nio.file.attribute.BasicFileAttributes])
              f.toString -> (a.size(), a.lastModifiedTime().toMillis)
            }.toList
        } finally s.close()
      }
    }.toMap

  /** Files new or rewritten between two snapshots, with their sizes. */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): Map[String, Long] =
    after.collect { case (f, (size, mtime)) if !before.get(f).contains((size, mtime)) => f -> size }

  def bytesUnder(roots: Seq[String]): Long =
    snapshot(roots).valuesIterator.map(_._1).sum

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
