package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{Date, Timestamp}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{EtlPipeline, SparkEntry, TextPipeline}
import graft.operators.{DedupOps, FraudDetection, ScaleJoins, Scd}
import graft.sources.{BankFeeds, WarehouseFs}

/** A workload: `setup` builds fixtures (counted in set-up time), `run` is
  * the timed closed loop, `finish` makes the final output checks. */
abstract class Workload(val spark: SparkSession, val rec: Recorder, val tr: Tracer,
                        val params: Params, val inputs: String, val work: String) {
  def setup(): Unit
  def run(): Unit
  def finish(): Unit = ()
  def outputs: Map[String, Any] = Map.empty

  /** A layer call made by the benchmark itself, only in traced runs. A
    * call that throws counts as a failed operation. */
  def layer[T](name: String)(body: => T): Unit =
    if (tr.on) try tr.span(name, "layer")(body) catch {
      case scala.util.control.NonFatal(e) => rec.failed("layer", name, e)
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Files under `dir` with their sizes, relative to `dir`. */
  def listing(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Listing diff around a write, as trace counters under `prefix`. */
  def diffed[T](dir: String, prefix: String)(body: => T): T =
    if (!tr.on) body
    else {
      val before = listing(dir)
      val r = body
      val after = listing(dir)
      val added = after.keySet -- before.keySet
      tr.count(s"$prefix.files_added", added.size)
      tr.count(s"$prefix.files_removed", (before.keySet -- after.keySet).size)
      tr.count(s"$prefix.bytes_added", added.toSeq.map(after).sum.toDouble)
      r
    }

  /** A copy-on-write DML call on `table`. Traced runs count, before it,
    * the live files holding a key it changes, and after it, the live files
    * it dropped and the bytes it added: the rewrite-precision and
    * write-amplification inputs (per changed row, at the table's average
    * bytes per row). */
  def cow(table: String, verb: String, keyCol: String, keys: => Seq[Any])(body: => Unit): Unit =
    if (!tr.on) body
    else {
      def live() = WarehouseFs.readTable(spark, table).get
      def sizes() = live().inputFiles.map(f => f -> Files.size(Paths.get(new java.net.URI(f)))).toMap
      val (holding, changed, before) = tr.span("prep", "check") {
        val ks = keys.distinct
        val hold = if (ks.isEmpty) 0L
          else live().filter(col(keyCol).isin(ks: _*)).select(input_file_name()).distinct().count()
        (hold, ks.size, sizes())
      }
      val rowBytes = before.values.sum.toDouble / math.max(1L, tr.span("prep", "check")(live().count()))
      body
      tr.span("prep", "check") {
        val after = sizes()
        tr.count(s"dml.$verb.files_holding", holding)
        tr.count(s"dml.$verb.files_rewritten", (before.keySet -- after.keySet).size)
        tr.count(s"dml.$verb.bytes_written", (after.keySet -- before.keySet).toSeq.map(after).sum.toDouble)
        tr.count(s"dml.$verb.changed_bytes", changed * rowBytes)
      }
    }

  def fmtTs(t: Timestamp): String =
    if (t == null) null else t.toLocalDateTime.toString.replace('T', ' ').take(19) match {
      case s if s.length == 16 => s + ":00"
      case s => s
    }
}

// ------------------------------------------------------------ etl_nightly --

/** The paper's nightly job, one `EtlPipeline.run` per feed day into one
  * warehouse. Feeds accumulate in the feed directory as upstream drops
  * them; the first night (the warehouse's initial load) is set-up. */
final class EtlNightly(spark: SparkSession, rec: Recorder, tr: Tracer, params: Params,
                       inputs: String, work: String)
    extends Workload(spark, rec, tr, params, inputs, work) {
  private val dates = params.list("dates")
  private val tags = params.list("tags")
  private val feedSrc = s"$inputs/feeds"
  private val bank = s"$inputs/bank"
  private val feedDir = s"$work/feeds"
  private val wh = s"$work/wh"
  private var state: Map[String, Any] = Map.empty
  private val termAttrs = Seq("terminal_type", "terminal_city", "terminal_address")

  private def drop(k: Int): Unit = {
    Files.createDirectories(Paths.get(feedDir))
    Files.list(Paths.get(feedSrc)).iterator().asScala
      .filter(_.getFileName.toString.contains(tags(k)))
      .foreach(p => Files.copy(p, Paths.get(feedDir).resolve(p.getFileName),
        StandardCopyOption.REPLACE_EXISTING))
  }

  private def asOf(k: Int) = Timestamp.valueOf(s"${dates(k)} 23:59:00")

  // traced runs: the served terminal history and blacklist after each
  // night, for the layer calls made after the timed loop
  private val after = mutable.Map.empty[Int, (DataFrame, DataFrame)]

  private def night(k: Int, kind: String): Unit = {
    drop(k)
    rec.op(kind, dates(k)) {
      diffed(wh, "warehousefs") {
        EtlPipeline.run(spark, feedDir, wh, Some(bank), Some(asOf(k)))
      }
    }
    if (tr.on) after(k) = tr.span("prep", "check") {
      (served("dwh_dim_terminals_hist").localCheckpoint(),
       served("dwh_fact_pssprt_blcklst").localCheckpoint())
    }
  }

  private def served(name: String): DataFrame = EtlPipeline.readServed(spark, wh, name).get

  /** Traced runs only, after the timed loop: the layers `EtlPipeline.run`
    * called internally on night k, each called standalone on that night's
    * inputs and forced into a noop sink. */
  private def layers(k: Int): Unit = {
    val (hist0, bl0) = (after.get(k - 1).map(_._1), after.get(k - 1).map(_._2))
    val (hist, bl) = after(k)
    val tag = tags(k)
    val day = Date.valueOf(dates(k))
    val loadTs = Timestamp.valueOf(s"${dates(k)} 00:00:00")
    layer("bankfeeds.tx")(noop(BankFeeds.transactions(spark, s"$feedDir/transactions_$tag.txt")))
    layer("bankfeeds.xlsx") {
      noop(BankFeeds.terminals(spark, s"$feedDir/terminals_$tag.xlsx"))
      noop(BankFeeds.blacklist(spark, s"$feedDir/passport_blacklist_$tag.xlsx"))
    }
    val snap = BankFeeds.terminals(spark, s"$feedDir/terminals_$tag.xlsx")
    val blSnap = BankFeeds.blacklist(spark, s"$feedDir/passport_blacklist_$tag.xlsx")
    tr.count("bankfeeds.rows", snap.count() + blSnap.count())
    layer("scd.scd2")(noop(Scd.scd2Apply(spark, hist0, snap, "terminal_id", termAttrs, loadTs)))
    layer("scd.scd1")(noop(Scd.scd1Apply(bl0, blSnap, "passport_num", Seq("entry_dt"))))
    val (clients, accounts, cards) = (spark.read.parquet(s"$bank/clients.parquet"),
      spark.read.parquet(s"$bank/accounts.parquet"), spark.read.parquet(s"$bank/cards.parquet"))
    val fact = s"$wh/dwh_fact_transactions"
    val tx = EtlPipeline.factSlice(spark, fact, Date.valueOf(day.toLocalDate.minusDays(1)), day)
    layer("fraud.view")(noop(FraudDetection.dataView(clients, accounts, cards, tx, hist, asOf(k))))
    val view = FraudDetection.dataView(clients, accounts, cards, tx, hist, asOf(k)).localCheckpoint()
    layer("fraud.rules")(noop(FraudDetection.repFraud(view, bl, day)))
    layer("scalejoins.zorder")(EtlPipeline.zOrderFactDays(spark, fact, Seq(dates(k))))
    if (k == dates.size - 1)
      layer("scalejoins.compact")(ScaleJoins.compactParquet(spark, s"$wh/rep_fraud", keepVersions = 8))
  }

  /** What the nights left behind, for run.py to compare with the
    * generator's expected outputs: the mart and the fact per day, the final
    * terminal history (its versions carry every night's changes) and the
    * final blacklist. */
  private def collect(): Map[String, Any] = try {
    val mart = served("rep_fraud")
      .select("report_dt", "event_dt", "passport", "fio", "phone", "event_type").collect()
      .groupBy(_.getDate(0).toString).map { case (d, rs) =>
        d -> rs.toSeq.map(r => Seq(fmtTs(r.getTimestamp(1)), r.getString(2), r.getString(3),
          r.getString(4), r.getString(5)))
      }
    val fact = spark.read.parquet(s"$wh/dwh_fact_transactions").groupBy("day")
      .agg(count(lit(1)), sum("amt")).collect()
      .map(r => r.getDate(0).toString -> Seq(r.getLong(1), r.getDecimal(2).setScale(2).toPlainString))
      .toMap
    val hist = served("dwh_dim_terminals_hist").collect().map { r =>
      Seq(r.getAs[String]("terminal_id"), r.getAs[String]("terminal_type"),
        r.getAs[String]("terminal_city"), r.getAs[String]("terminal_address"),
        r.getAs[Int]("deleted_flg"), fmtTs(r.getAs[Timestamp]("effective_from")),
        fmtTs(r.getAs[Timestamp]("effective_to")))
    }.toSeq
    val bl = served("dwh_fact_pssprt_blcklst").collect()
      .map(r => Seq(r.getString(0), r.getDate(1).toString)).toSeq
    Map("mart" -> mart, "fact" -> fact, "hist" -> hist, "blacklist" -> bl)
  } catch {
    case scala.util.control.NonFatal(e) => Map("error" -> e.toString)
  }

  def setup(): Unit = night(0, "setup_night")

  def run(): Unit = for (k <- 1 until dates.size) night(k, "night")

  /** After the last night: traced runs make the layer calls of every timed
    * night; then the outputs are collected, and traced runs also exercise
    * the warehouse DML verbs and the graft read path on the served tables,
    * as an operator would use them — an investigation lookup, an erasure, a
    * blacklist correction. */
  override def finish(): Unit = {
    if (tr.on) for (k <- 1 until dates.size) layers(k)
    state = tr.span("check", "check")(collect())
    if (tr.on) dmlProbes()
  }

  private def dmlProbes(): Unit = {
    val mart = s"$wh/rep_fraud"
    val bl = s"$wh/dwh_fact_pssprt_blcklst"
    val day = Date.valueOf(dates.last)
    def graft(t: String) = spark.read.format("graft").option("table", t).load()
    val ps = served("rep_fraud").select("passport").distinct().orderBy("passport")
      .collect().map(_.getString(0)).toSeq
    val blRows = served("dwh_fact_pssprt_blcklst").orderBy("passport_num").localCheckpoint()
    val blKeys = blRows.collect().map(_.getString(0)).toSeq
    layer("dml.read_point")(graft(mart).filter(col("passport") === ps.head).collect())
    layer("dml.read_agg")(graft(mart).agg(count(lit(1)), sum(length(col("fio")))).collect())
    layer("dml.delete_point")(cow(mart, "delete_point", "passport", ps.take(1)) {
      WarehouseFs.deleteWhere(spark, mart, "passport", ps.take(1), keepVersions = 8)
    })
    layer("dml.merge_clustered")(cow(bl, "merge_clustered", "passport_num", blKeys.take(3)) {
      WarehouseFs.mergeInto(blRows.limit(3).withColumn("entry_dt", lit(day)), bl, "passport_num",
        whenMatchedUpdate = Map("entry_dt" -> col("src_entry_dt")), keepVersions = 8)
    })
    layer("dml.merge_bulk")(cow(bl, "merge_bulk", "passport_num", blKeys) {
      WarehouseFs.mergeInto(blRows.withColumn("entry_dt", lit(day)), bl, "passport_num",
        whenMatchedUpdate = Map("entry_dt" -> col("src_entry_dt")),
        whenNotMatchedInsert = false, keepVersions = 8)
    })
    layer("dml.delete_dv")(WarehouseFs.deleteWhereVectors(spark, mart, "passport",
      ps.slice(1, 2), keepVersions = 8))
    layer("dml.read_point")(graft(mart).filter(col("passport") === ps(2)).collect())
    layer("dml.read_agg")(graft(mart).agg(count(lit(1)), sum(length(col("fio")))).collect())
    layer("dml.read_feed")(WarehouseFs.changeFeedLatest(spark, mart,
      Seq("event_dt", "passport", "event_type")).map(_.collect()))
    layer("dml.overwrite_day")(WarehouseFs.overwritePartitions(
      served("rep_fraud").filter(col("report_dt") === lit(day)).localCheckpoint(),
      mart, Seq("report_dt"), keepVersions = 8))
  }

  override def outputs: Map[String, Any] = Map(
    "nights" -> dates.indices.map(k => Map("kind" -> (if (k == 0) "setup_night" else "night"),
      "day" -> dates(k))),
    "state" -> state)
}

// -------------------------------------------------------------- query_mix --

/** Analysts' read traffic: a fixed slice of the query registry, each query
  * fully materialized by `collect()`. Set-up runs the slice once (a session
  * that has served queries before); the timed window then runs it
  * `rounds` times, each round in its own seeded order. The first timed
  * result of each query is written out for run.py to compare with the
  * DuckDB oracle. */
final class QueryMix(spark: SparkSession, rec: Recorder, tr: Tracer, params: Params,
                     inputs: String, work: String)
    extends Workload(spark, rec, tr, params, inputs, work) {
  private val sf = params("sf_dir")
  private val results = Files.newBufferedWriter(Paths.get(s"$work/results.jsonl"))
  private val chosen = QueryMix.slice(params.int("query_count"))

  private def runQuery(kind: String, name: String): Option[(StructType, Array[Row])] = {
    val fn = SparkEntry.queries(name)
    rec.op(kind, name) {
      val df = fn(spark, sf)
      (df.schema, df.collect())
    }
  }

  def setup(): Unit = chosen.foreach(runQuery("setup_query", _))

  def run(): Unit = for (r <- 0 until params.int("rounds")) {
    val order = new scala.util.Random(params.long("seed") * 31 + r).shuffle(chosen)
    for (name <- order) runQuery("query", name).filter(_ => r == 0).foreach {
      case (schema, rows) =>
        results.write(Json(Map("name" -> name, "schema" -> schema.json,
          "rows" -> rows.toSeq.map(row => Encode.row(row, schema)))))
        results.newLine()
    }
  }

  override def finish(): Unit = results.close()

  override def outputs: Map[String, Any] = Map(
    "modules" -> QueryMix.modules.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap,
    "oracle_sql" -> SparkEntry.oracleSql)
}

object QueryMix {
  /** The registry's queries by module. `feed_transactions_typed` reads
    * reference feeds from outside the checkout and is left out. */
  val modules: Seq[(String, Seq[String])] = {
    import graft._
    Seq("relational" -> QueriesRelational.queries, "text" -> QueriesText.queries,
      "events" -> QueriesEvents.queries, "similarity" -> QueriesSimilarity.queries,
      "advanced" -> QueriesAdvanced.queries, "breadth" -> QueriesBreadth.queries,
      "tpch" -> QueriesTpch.queries).map { case (m, qs) =>
      m -> qs.keys.toSeq.filter(n => n != "feed_transactions_typed" && SparkEntry.queries.contains(n))
        .sorted
    }
  }

  /** The same `k` queries on every seed: one per module, then each further
    * slot to the module with the most queries per slot, so the mix follows
    * the registry's make-up. A module's sorted names are cut into as many
    * equal stretches as it has slots, and the middle name of each is taken. */
  def slice(k: Int): Seq[String] = {
    val quota = mutable.LinkedHashMap(modules.map { case (m, _) => m -> 1 }: _*)
    val size = modules.toMap.map { case (m, qs) => m -> qs.size }
    while (quota.values.sum < k) {
      val m = quota.keys.maxBy(m => size(m).toDouble / quota(m))
      quota(m) += 1
    }
    modules.flatMap { case (m, qs) => (0 until quota(m)).map(i => qs((2 * i + 1) * qs.size / (2 * quota(m)))) }
  }
}

/** Spark values → JSON values that run.py decodes with the schema. */
object Encode {
  def row(r: Row, s: StructType): Seq[Any] =
    s.fields.indices.map(i => value(r.get(i), s.fields(i).dataType))

  def value(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (d: java.math.BigDecimal, _) => d.toPlainString
    case (d: scala.math.BigDecimal, _) => d.bigDecimal.toPlainString
    case (ts: Timestamp, _) => Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
    case (i: java.time.Instant, _) => i.getEpochSecond * 1000000L + i.getNano / 1000
    case (l: java.time.LocalDateTime, _) =>
      l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000
    case (d: Date, _) => d.toString
    case (d: java.time.LocalDate, _) => d.toString
    case (f: Float, _) => f.toString
    case (d: Double, _) => if (d.isNaN || d.isInfinite) d.toString else d
    case (b: Array[Byte], _) => b.map("%02x".format(_)).mkString
    case (s: collection.Seq[_], ArrayType(et, _)) => s.map(value(_, et))
    case (r: Row, st: StructType) => row(r, st)
    case (m: collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, x) => Seq(value(k, kt), value(x, vt)) }
    case (other, _) => other
  }
}

// ----------------------------------------------------------- text_nightly --

/** Incremental curation: document batches folded one by one through the
  * persisted curation state, reloaded between folds; the run ends with the
  * survivors, which must equal a one-shot `TextPipeline.curate` over all
  * batches (computed in set-up). */
final class TextNightly(spark: SparkSession, rec: Recorder, tr: Tracer, params: Params,
                        inputs: String, work: String)
    extends Workload(spark, rec, tr, params, inputs, work) {
  private val nBatches = params.int("batches")
  private val batches = (0 until nBatches).map(i => spark.read.parquet(s"$inputs/batches/batch_$i.parquet"))
  private val allDocs = spark.read.parquet((0 until nBatches).map(i => s"$inputs/batches/batch_$i.parquet"): _*)
  private val root = s"$work/state"
  private var reference: Set[Long] = Set.empty
  // traced runs: the state each batch was folded into, for the pair counts
  // made after the timed loop
  private val before = mutable.ArrayBuffer.empty[TextPipeline.CurationState]

  def setup(): Unit =
    reference = TextPipeline.curate(allDocs).select("doc_id").collect().map(_.getLong(0)).toSet

  def run(): Unit = {
    var state = TextPipeline.emptyState(spark)
    for (i <- 0 until nBatches) {
      if (tr.on) before += state
      val s0 = state
      rec.op("fold", s"b$i") {
        val next = tr.span("textpipeline.fold", "layer")(TextPipeline.curateIncrement(s0, batches(i)))
        tr.span("textpipeline.save", "layer")(TextPipeline.saveStateDelta(next, root, i.toLong))
      }
      rec.op("load", s"b$i", primary = false) {
        TextPipeline.loadLatestState(spark, root).get
      }.foreach(state = _)
    }
    var got: Set[Long] = Set.empty
    rec.op("survivors", "all", primary = false) {
      got = TextPipeline.curatedFromState(state, allDocs).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    }
    rec.check("survivors", "all", got == reference,
      s"${got.size} survivors, want ${reference.size} (${(got -- reference).size} extra, " +
        s"${(reference -- got).size} missing)")
  }

  /** Traced runs only: the near-duplicate pairs each batch found against
    * the state it was folded into, and the size of the persisted state. */
  override def finish(): Unit = if (tr.on) {
    for ((s, i) <- before.zipWithIndex) layer("dedup.pairs") {
      val sigs = DedupOps.signatures(TextPipeline.qualityFilter(batches(i)), "doc_id", "text")
      tr.count("dedup.pairs", DedupOps.incrementalNearDupsBanded(
        s.sigs.select("doc_id", "shingles"), s.bands, sigs, "doc_id", 0.5).count())
    }
    tr.count("textpipeline.state_bytes", listing(root).values.sum.toDouble)
  }
}
