package graft

import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.FeedFixtures._
import graft.operators.{FraudDetection, Scd}
import graft.sources.{BankFeeds, WarehouseFs}

/** Nightly runs of [[EtlPipeline.run]] over feeds this suite writes itself:
  * each night must equal a sequential reference built from `Scd` and
  * `FraudDetection` on the same inputs, a re-run must change nothing, and
  * a failing night must leave the warehouse as it was. */
class EtlNightlySpec extends SparkSpec {
  private val tmp = Files.createTempDirectory("graft_etl_nightly_")
  private val feedDir = Files.createDirectories(tmp.resolve("feeds"))
  private val bankDir = tmp.resolve("bank")
  private val wh = tmp.resolve("wh").toString
  private val days = (1 to 4).map(d => LocalDate.of(2021, 3, d))
  private def asOf(k: Int) = Timestamp.valueOf(s"${days(k)} 23:59:00")
  private val termAttrs = Seq("terminal_type", "terminal_city", "terminal_address")

  // --- the feeds: SCD2 adds, changes, deletes and a reappearing terminal
  private val t1 = Terminal("T1", "ATM", "Москва", "ул. Ленина, 1")
  private val t2 = Terminal("T2", "POS", "Москва", "ул. Мира, 7")
  private val t3 = Terminal("T3", "ATM", "Тверь", "пр. Победы, 3")
  private val t4 = Terminal("T4", "POS", "Казань", "ул. Баумана, 12")
  private val t5 = Terminal("T5", "ATM", "Самара", "ул. Гагарина, 5")
  private val t6 = Terminal("T6", "POS", "Омск", "ул. Лермонтова, 9")
  private val terminals = Seq(
    Seq(t1, t2, t3, t4, t5),
    Seq(t1, t2.copy(city = "Тула"), t4, t5, t6),
    Seq(t1, t2.copy(city = "Тула"), t3, t4.copy(address = "ул. Пушкина, 2"), t5),
    Seq(t1, t2.copy(city = "Тула"), t3, t4.copy(address = "ул. Пушкина, 2"), t5))

  private val clients = Seq(
    Client("C0001", "4500 111111", LocalDate.of(2030, 1, 1), "+7 900 0001"), // blacklisted day 1
    Client("C0002", "4500 222222", LocalDate.of(2021, 3, 2), "+7 900 0002"), // passport expires
    Client("C0003", "4500 333333", LocalDate.of(2030, 1, 1), "+7 900 0003"), // contract expires
    Client("C0004", "4500 444444", LocalDate.of(2030, 1, 1), "+7 900 0004"), // city hops
    Client("C0005", "4500 555555", LocalDate.of(2030, 1, 1), "+7 900 0005"), // blacklisted day 2
    Client("C0006", "4500 666666", LocalDate.of(2030, 1, 1), "+7 900 0006"))
  private def accountValidTo(client: String) =
    if (client == "C0003") LocalDate.of(2021, 3, 1) else LocalDate.of(2030, 1, 1)

  /** The cumulative blacklist of day k: every entry so far. */
  private def blacklist(k: Int): Seq[(String, LocalDate)] =
    Seq("4500 111111" -> days(0), "4500 999999" -> days(0), "4500 555555" -> days(1),
        "4500 777777" -> days(2)).filter(_._2.compareTo(days(k)) <= 0)

  private def transactions(k: Int): Seq[Tx] = {
    val d = days(k)
    val regular = for {
      (c, i) <- clients.zipWithIndex
      (time, j) <- Seq("06:00:00", "15:00:00").zipWithIndex
    } yield Tx(f"${k + 1}%d${i}%02d$j", s"$d $time", 10000L + 137 * i + 51 * j + k,
      cardOf(c.id), if (j == 0) "PAYMENT" else "WITHDRAW", if (i == 5) "REJECT" else "SUCCESS",
      Seq("T1", "T2", "T4", "T5")(i % 4))
    val hop = cardOf("C0004")
    val hops = k match {
      // within the hour in two cities, then a pair across midnight
      case 0 => Seq(Tx("9001", s"$d 10:00:00", 5000, hop, "PAYMENT", "SUCCESS", "T1"),
                    Tx("9002", s"$d 10:30:00", 5010, hop, "PAYMENT", "SUCCESS", "T3"),
                    Tx("9003", s"$d 23:50:00", 5020, hop, "PAYMENT", "SUCCESS", "T1"))
      case 1 => Seq(Tx("9004", s"$d 00:20:00", 5030, hop, "PAYMENT", "SUCCESS", "T4"))
      case _ => Nil
    }
    regular ++ hops
  }

  private def writeDay(k: Int): Unit = {
    writeTerminals(feedDir, days(k), terminals(k))
    writeBlacklist(feedDir, days(k), blacklist(k))
    writeTransactions(feedDir, days(k), transactions(k))
  }
  private def feedPath(prefix: String, k: Int, ext: String) =
    feedDir.resolve(s"${prefix}_${tag(days(k))}.$ext").toString

  private def served(name: String): DataFrame = EtlPipeline.readServed(spark, wh, name).get
  private def fact: DataFrame = spark.read.parquet(s"$wh/dwh_fact_transactions")

  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    val g = got.select(want.columns.map(col).toSeq: _*)
    assert(g.count() === want.count(), s"$what: row count")
    assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty, s"$what: rows differ")
  }

  /** Three nights, each checked against a reference that applies the same
    * feeds one by one: SCD2 per terminal snapshot, SCD1 per blacklist feed
    * (all of them, every night, as they sit in the feed directory), the
    * mart as the night's day of `repFraud` over the view of that day and
    * its lookback day. */
  private lazy val nights: Unit = {
    writeBank(spark, bankDir, clients, accountValidTo)
    val bank = Seq("clients", "accounts", "cards")
      .map(t => spark.read.parquet(bankDir.resolve(s"$t.parquet").toString))
    var hist = Option.empty[DataFrame]
    var bl = Option.empty[DataFrame]
    var mart = Option.empty[DataFrame]
    for (k <- 0 until 3) {
      writeDay(k)
      EtlPipeline.run(spark, feedDir.toString, wh, Some(bankDir.toString), Some(asOf(k)))

      hist = Some(Scd.scd2Apply(spark, hist, BankFeeds.terminals(spark, feedPath("terminals", k, "xlsx")),
        "terminal_id", termAttrs, Timestamp.valueOf(s"${days(k)} 00:00:00")).localCheckpoint())
      bl = (0 to k).foldLeft(bl) { (state, j) =>
        Some(Scd.scd1Apply(state, BankFeeds.blacklist(spark, feedPath("passport_blacklist", j, "xlsx")),
          "passport_num", Seq("entry_dt")).localCheckpoint())
      }
      val tx = (math.max(0, k - 1) to k)
        .map(j => BankFeeds.transactions(spark, feedPath("transactions", j, "txt")))
        .reduce(_ unionByName _)
      val view = FraudDetection.dataView(bank(0), bank(1), bank(2), tx, hist.get, asOf(k))
      val events = FraudDetection.repFraud(view, bl.get, Date.valueOf(days(k)))
        .filter(to_date(col("event_dt")) === lit(Date.valueOf(days(k))))
      mart = Some(mart.fold(events)(_.unionByName(events)).localCheckpoint())
      val feedTx = (0 to k)
        .map(j => BankFeeds.transactions(spark, feedPath("transactions", j, "txt")))
        .reduce(_ unionByName _).withColumn("day", to_date(col("trans_date")))

      assertSame(s"night ${k + 1} terminal history", served("dwh_dim_terminals_hist"), hist.get)
      assertSame(s"night ${k + 1} blacklist", served("dwh_fact_pssprt_blcklst"), bl.get)
      assertSame(s"night ${k + 1} fact", fact, feedTx)
      assertSame(s"night ${k + 1} mart", served("rep_fraud"), mart.get)
    }
    // the feeds plant every rule, so the comparison above is not vacuous
    assert(mart.get.select("event_type").distinct().count() === 3)
    assert(hist.get.filter(col("deleted_flg") === 1).count() > 0)
  }

  test("three concurrent nightly runs equal the sequential Scd/FraudDetection reference") {
    nights
  }

  test("a re-run changes nothing, stages nothing on disk, and runs under the caller's job group") {
    nights
    val (_, pinsBefore) = WarehouseFs.currentCommit(spark, wh).get
    val tables = Seq("dwh_dim_terminals_hist", "dwh_fact_pssprt_blcklst", "rep_fraud")
    val before = tables.map(t => served(t).collect().toSeq.map(_.toString).sorted)
    val factBefore = fact.count()

    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("etl-rerun", "nightly re-run")
      try EtlPipeline.run(spark, feedDir.toString, wh, Some(bankDir.toString), Some(asOf(2)))
      finally sc.clearJobGroup()
      // listener events arrive in order: once this job's start is seen,
      // every job of the run has been seen
      sc.setJobGroup("marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(groups.contains("marker")))
    } finally sc.removeSparkListener(listener)
    val runGroups = groups.asScala.toSeq.takeWhile(_ != "marker")
    assert(runGroups.nonEmpty)
    assert(runGroups.forall(_ == "etl-rerun"), s"job groups seen: ${runGroups.distinct}")

    val (_, pinsAfter) = WarehouseFs.currentCommit(spark, wh).get
    assert(pinsAfter === pinsBefore, "a no-change run must re-pin every member version")
    assert(tables.map(t => served(t).collect().toSeq.map(_.toString).sorted) === before)
    assert(fact.count() === factBefore)
    assert(!Files.exists(Path.of(wh, "_work")))
  }

  test("a corrupt terminals feed fails the run and leaves the commit and the fact as they were") {
    nights
    writeDay(3)
    Files.write(Path.of(feedPath("terminals", 3, "xlsx")), "not a zip".getBytes("UTF-8"))
    val commitBefore = WarehouseFs.currentCommit(spark, wh)
    val daysBefore = WarehouseFs.listNames(spark, s"$wh/dwh_fact_transactions")
    intercept[Exception] {
      EtlPipeline.run(spark, feedDir.toString, wh, Some(bankDir.toString), Some(asOf(3)))
    }
    assert(WarehouseFs.currentCommit(spark, wh) === commitBefore)
    assert(WarehouseFs.listNames(spark, s"$wh/dwh_fact_transactions") === daysBefore,
      "the failed night's fact day must be removed")

    // with the feed repaired the night loads in full
    writeDay(3)
    EtlPipeline.run(spark, feedDir.toString, wh, Some(bankDir.toString), Some(asOf(3)))
    assert(WarehouseFs.currentCommit(spark, wh).get._1 > commitBefore.get._1)
    assert(fact.filter(col("day") === lit(Date.valueOf(days(3)))).count() ===
      transactions(3).size)
    assert(served("rep_fraud").filter(col("report_dt") === lit(Date.valueOf(days(3))))
      .count() > 0)
  }
}
