package perfbench

/** Seeded input generation helpers. */
final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
  private val cdf = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  /** A rank in [0, n), rank 0 the most frequent. */
  def next(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Gen {
  def writeText(path: String, text: String): Long = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    val bytes = text.getBytes("UTF-8")
    java.nio.file.Files.write(p, bytes)
    bytes.length.toLong
  }

  /** Writes `df` as the single parquet file `dest` (the named-slice
    * layout the trash-protocol deletes address file by file). */
  def writeSlice(df: org.apache.spark.sql.DataFrame, staging: String, dest: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one parquet file under $staging, got ${part.length}")
    val d = new java.io.File(dest)
    d.getParentFile.mkdirs()
    java.nio.file.Files.move(part.head.toPath, d.toPath)
    Stores.deleteRecursively(new java.io.File(staging))
    d.length()
  }
}
