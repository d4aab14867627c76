package perfbench

import org.apache.spark.sql.{functions, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.R2gPipeline
import graft.orchestrate.Pipeline

/** The reference's daily job: a seeded raw zone of the five bank CSV
  * tables, Zipf-skewed over customers. Write op = one full
  * [[R2gPipeline.run]] (dims, date dim, the SQL-verbatim fact, dual
  * parquet writes, catalog crawl); read op = a reporting query over the
  * crawled golden-zone tables.
  *
  * Size: the fact joins `cte_cust_accum_revenue` on `cust_id` alone, so
  * a customer with accounts active on D days contributes (account-days ×
  * D) rows — the fact grows with the square of each customer's date
  * count. At scale 1 the raw zone is 15k transactions over 30 days, 60
  * customers and their 1-3 accounts each; the fact is under 100k rows
  * (a few MB), so the persisted fact and every shuffle fit in memory. */
final class BankDailyEtl(spark: SparkSession, seed: Long, scale: Double,
                         corrupt: Boolean) extends Workload {
  private val nCust = math.max(8, (60 * scale).toInt)
  private val nTxn = math.max(200, (15000 * scale).toInt)
  private val nDays = 30
  private val day0 = java.time.LocalDate.parse("2024-03-10")
  private val db = "golden_zone"
  private val fact = "kietl_fact_snapshot_daily_transaction"
  private val tables = Seq("account", "account_type", "customer", "payment_transaction",
    "payment_type").map(t => s"kietl_dim_$t") ++ Seq("kietl_dim_date", fact)
  private val typeNames = Seq("RGB", "BB", "WB")

  private var dir = ""
  private var rawRows = 0L
  private var rawBytes = 0L
  // expected fact aggregates, recomputed from the generator's rows:
  // date_key -> (rows, sum of account_daily_spending in cents)
  private var perDay = Map.empty[String, (Long, Long)]
  private var perType = Map.empty[String, (Long, Long)]
  private var rnd = new scala.util.Random(seed)

  private def raw = s"$dir/raw"
  private def golden = s"$dir/golden"
  private def backup = s"$dir/backup"
  def storeRoots: Seq[String] = Seq(golden, backup)
  def inputBytes: Long = rawBytes

  def setup(d: String): Unit = {
    dir = d
    rnd = new scala.util.Random(seed)
    val g = new scala.util.Random(seed ^ 0x5eedL)
    val zipf = new Zipf(nCust, 1.1, g)
    def csv(name: String, header: String, rows: Iterator[String]): Unit = {
      val sb = new StringBuilder(header).append('\n')
      var n = 0L
      rows.foreach { r => sb.append(r).append('\n'); n += 1 }
      rawBytes += Gen.writeText(s"$raw/$name.csv", sb.toString)
      rawRows += n
    }
    rawRows = 0; rawBytes = 0
    csv("account_type", "type_id,type_nm,description,eff_dt,mat_dt",
      typeNames.zipWithIndex.iterator.map { case (t, i) => s"${i + 1},$t,type $t,2015-01-01,2035-01-01" })
    val payNames = Seq("normal", "online", "transfer_payment", "card")
    csv("payment_type", "type_code,type_nm,eff_dt,mat_dt",
      payNames.zipWithIndex.iterator.map { case (t, i) => s"PC${i + 1},$t,2015-01-01,2035-01-01" })
    csv("customer", "cust_id,cust_nm,add_id,opn_dt,end_dt",
      (0 until nCust).iterator.map { c =>
        val add = if (g.nextInt(10) == 0) "\\N" else s"AD$c"
        s"${1000 + c},customer $c,$add,2019-12-01,2030-01-01"
      })
    // 1-3 accounts per customer
    val accts = (0 until nCust).map(c => c -> (0 until 1 + g.nextInt(3)).map(_ => g.nextInt(3))).toVector
    val accIds = accts.scanLeft(0)(_ + _._2.size)
    val accType = accts.flatMap(_._2).toVector
    csv("account", "acc_id,cust_id,acc_type,opn_dt,end_dt",
      accType.indices.iterator.map { a =>
        val c = accIds.lastIndexWhere(_ <= a)
        s"${a + 1},${1000 + c},${accType(a) + 1},2020-01-01,2030-01-01"
      })
    // transactions: (day, customer, account, cents)
    val txns = (0 until nTxn).map { _ =>
      val c = zipf.next()
      val a = accIds(c) + g.nextInt(accts(c)._2.size)
      (g.nextInt(nDays), c, a, 100L + g.nextInt(50000))
    }
    csv("payment_transaction",
      "trans_id,acc_id,before_balance,amount,after_balance,transaction_time,payment_code",
      txns.iterator.zipWithIndex.map { case ((d, _, a, cents), i) =>
        val bal = 100000 + g.nextInt(900000)
        val t = f"${day0.plusDays(d)} ${g.nextInt(24)}%02d:${g.nextInt(60)}%02d:${g.nextInt(60)}%02d"
        f"${100000 + i},${a + 1},$bal,${cents / 100}.${cents % 100}%02d,${bal - cents / 100},$t,PC${1 + g.nextInt(4)}"
      })
    // the fact has one row per (day, cust, acc) for each day the customer
    // transacted on (the cust_id-only fan-out join)
    val daysOf = txns.groupBy(_._2).map { case (c, ts) => c -> ts.map(_._1).distinct.size.toLong }
    val spend = txns.groupBy(t => (t._1, t._2, t._3)).map { case (k, ts) => k -> ts.map(_._4).sum }
    def agg[K](key: ((Int, Int, Int)) => K): Map[K, (Long, Long)] =
      spend.toSeq.groupBy(kv => key(kv._1)).map { case (k, kvs) =>
        k -> kvs.foldLeft((0L, 0L)) { case ((n, s), ((_, c, _), cents)) =>
          (n + daysOf(c), s + cents * daysOf(c)) }
      }
    perDay = agg(k => day0.plusDays(k._1).toString.replace("-", ""))
    perType = agg(k => typeNames(accType(k._3)))
    if (corrupt) perDay = perDay.updated(perDay.keys.min, (perDay(perDay.keys.min)._1 + 1, perDay(perDay.keys.min)._2))
    // the summary rule is installed, as in a session that serves
    // summaries, but nothing is registered: every plan pays the rule's
    // no-match cost
    graft.plan.RollupRewrite.clear()
    graft.plan.RollupRewrite.enable(spark)
  }

  private def config = R2gPipeline.Config(rawDir = raw, goldenDir = golden,
    backupDir = backup, catalogDb = db, asOf = Some("2024-08-07 00:00:00"))

  private def writeOp(h: Harness): Unit =
    h.op("r2g_run", "write", rawRows)(h.span("jobs.r2g_run")(R2gPipeline.run(spark, config)))
      .foreach { log =>
        h.lastOp.inBytes = rawBytes
        log.foreach {
          case Pipeline.Succeeded(stage, attempts, millis) =>
            h.sample(s"orchestrate.stage_ms.$stage", millis.toDouble)
            h.sample("orchestrate.retries", attempts - 1.0)
          case Pipeline.Failed(stage, _, e) =>
            h.check(false, s"stage $stage failed: $e", Some(h.lastOp))
          case _ =>
        }
      }

  private def tbl(t: String): DataFrame = spark.table(s"$db.$t")

  /** The three reporting shapes; each returns (key, rows, cents) triples. */
  private def report(shape: Int): (Seq[(String, Long, Long)], Map[String, (Long, Long)]) = {
    val amount = functions.round(sum(col("account_daily_spending")) * 100).cast("long")
    def rows(df: DataFrame) = df.collect().toSeq.map(r => (r.get(0).toString, r.getLong(1), r.getLong(2)))
    shape match {
      case 0 =>
        val dd = tbl("kietl_dim_date").select(col("date_key"), col("year"), col("quarter"))
        val got = rows(tbl(fact).join(dd, "date_key")
          .groupBy(concat_ws("Q", col("year"), col("quarter")).as("k"))
          .agg(count(lit(1)), amount))
        val exp = perDay.toSeq.groupBy { case (k, _) =>
          val d = java.time.LocalDate.parse(k, java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
          s"${d.getYear}Q${(d.getMonthValue - 1) / 3 + 1}"
        }.map { case (k, vs) => k -> (vs.map(_._2._1).sum, vs.map(_._2._2).sum) }
        (got, exp)
      case 1 =>
        (rows(tbl(fact).groupBy("account_type_name").agg(count(lit(1)), amount)), perType)
      case _ =>
        val days = perDay.keys.toSeq.sorted
        val lo = days(rnd.nextInt(days.size))
        val hi = days(math.min(days.size - 1, days.indexOf(lo) + 6))
        (rows(tbl(fact).filter(col("date_key").between(lo, hi)).groupBy("date_key")
          .agg(count(lit(1)), amount)),
          perDay.filter { case (k, _) => k >= lo && k <= hi })
    }
  }

  private def readOp(h: Harness, shape: Int): Unit =
    h.op(s"report_$shape", "read")(report(shape)).foreach { case (got, exp) =>
      val g = got.map(t => t._1 -> (t._2, t._3)).toMap
      h.check(g == exp, s"report $shape differs from the generator's rows: got $g expected $exp",
        Some(h.lastOp))
    }

  /** The first r2g run builds the golden zone the reports read. */
  def warmup(h: Harness): Unit = {
    writeOp(h)
    (0 until 3).foreach(readOp(h, _))
  }

  /** One r2g run, then fifteen reports of each shape in a seeded order:
    * enough reads that a short burst of host load moves their median
    * little. */
  def round(h: Harness): Unit = {
    writeOp(h)
    rnd.shuffle(Seq.tabulate(45)(_ % 3)).foreach(readOp(h, _))
  }

  def bypassed: Seq[String] =
    Layers.ingest ++ Layers.plan ++ Layers.versioned ++ Layers.curate ++ Layers.dedup

  def finalChecks(h: Harness): Unit = {
    tables.foreach { t =>
      h.check(scala.util.Try(tbl(t).count() > 0).getOrElse(false), s"crawled table $db.$t does not resolve")
    }
    val got = spark.read.parquet(s"$golden/$fact").groupBy("date_key")
      .agg(count(lit(1)), functions.round(sum(col("account_daily_spending")) * 100).cast("long"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    h.check(got == perDay, s"fact per-day rows and amount sums differ from the generator's: " +
      s"${(got.toSet diff perDay.toSet).take(3)} vs ${(perDay.toSet diff got.toSet).take(3)}")
  }
}
