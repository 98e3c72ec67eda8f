package graft

import java.sql.{Date, Timestamp}
import java.util.concurrent.{Callable, ExecutionException, Executors, Future => JFuture}
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{FraudDetection, Scd}
import graft.sources.{BankFeeds, WarehouseFs}

/** End-to-end replacement for the reference's daily cron run
  * (main.py:544-580): discover feed files by pattern, load them in
  * day order, maintain the SCD2 terminal history / SCD1 blacklist /
  * append-only transactions fact as parquet tables, and rebuild the
  * fraud mart.
  *
  * Usage: runMain graft.EtlPipeline <feedDir> <warehouseDir> [bankDir]
  *
  * Differences from the reference, by design (SURVEY §3):
  *   - staging tables, per-statement DDL and the close/insert UPDATE
  *     sequence collapse into pure snapshot-rewrite transformations whose
  *     results commit together at the end of the run — no
  *     non-transactional window;
  *   - the three feeds load concurrently, and so do the commits of the
  *     tables they change (see [[run]]);
  *   - the processed-file ledger is the warehouse state itself (loads are
  *     idempotent: SCD1/SCD2 re-application is a fixpoint, and the fact
  *     load skips days already present);
  *   - `bank.*` tables come from parquet fixtures in bankDir; without one,
  *     deterministic demo fixtures are derived from the card numbers seen
  *     in the feed (clearly a demo: the reference assumes these tables
  *     pre-exist in the bank, main.py:410-414).
  */
object EtlPipeline {
  private val DayRe = """(\d{2})(\d{2})(\d{4})""".r.unanchored

  def dayOf(fileName: String): String = fileName match {
    case DayRe(dd, mm, yyyy) => s"$yyyy-$mm-$dd"
    case _ => throw new IllegalArgumentException(s"no DDMMYYYY in $fileName")
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.EtlPipeline <feedDir> <warehouseDir> [bankDir]")
      sys.exit(2)
    }
    val Array(feedDir, whDir) = args.take(2)
    val bankDir = args.lift(2)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, feedDir, whDir, bankDir)
    spark.stop()
  }

  /** The tables the warehouse SERVES (and the atomic commit set spans);
    * the append-only transactions fact intentionally stays outside. */
  private val servedTables =
    Seq("dwh_dim_terminals_hist", "dwh_fact_pssprt_blcklst", "rep_fraud")

  /** One nightly run over the feeds in `feedDir`, as a small dependency
    * graph on a pool of 3 threads created for this call:
    *
    *   1. ingest, concurrently: terminal snapshots → SCD2 history, passport
    *      feeds → SCD1 blacklist, transaction feeds → new fact days;
    *   2. derive the fraud mart from the three results;
    *   3. commit, concurrently: each changed served table into its own
    *      member chain (atomic mode, the default);
    *   4. sequentially: legacy lifts, the compaction check, the commit-set
    *      seal.
    *
    * The pool's threads are started by the calling thread, so they
    * inherit its Spark local properties (job group, scheduler pool); a
    * shared pool would carry those of whichever caller started it. Each
    * concurrent phase waits for every branch before it rethrows the first
    * failure. A failed run seals nothing, so readers stay on the previous
    * commit, and it removes the fact days it appended, so a re-run loads
    * them again and derives their mart.
    *
    * @param asOf logical "run time" (defaults to now) — drives the SCD2
    *   as-of snapshot and report_dt; injectable so tests can replay one
    *   nightly run per feed day deterministically. */
  def run(spark: SparkSession, feedDir: String, whDir: String,
          bankDir: Option[String], asOf: Option[Timestamp] = None): Unit = {
    // all warehouse/feed paths go through the Hadoop FileSystem API so the
    // same pipeline runs against file://, hdfs:// or s3a:// unchanged
    val files = WarehouseFs.listNames(spark, feedDir)
    def feed(prefix: String): Seq[(String, String)] = // (day, path) in day order
      files.filter(_.startsWith(prefix)).map(f => (dayOf(f), s"$feedDir/$f")).sortBy(_._1)

    def tablePath(name: String) = s"$whDir/$name"
    val factPath = tablePath("dwh_fact_transactions")
    // Publish modes. Atomic commit sets are the DEFAULT
    // (spark.graft.etl.atomicCommit=false opts out for the legacy
    // per-table layouts): the run keeps each changed dim's new state in
    // memory (a localCheckpoint, private to the run), and every SERVED
    // table (terminal history, blacklist, fraud mart) flips in ONE
    // commit-set commit at the end, so a reader resolving through the
    // latest commit can never join mart(vN) against blacklist(vN−1).
    // Tables this run did not touch carry forward into the new commit
    // with zero data I/O. A LEGACY warehouse (plain dirs or per-table
    // manifests) upgrades in place on its first default-mode run: reads
    // fall back through manifest/plain resolution, and the run's commit
    // lifts every served table into the commit set. Outside atomic mode
    // each dim publishes as soon as its state is computed: by rename swap
    // into the plain dir, or, with spark.graft.etl.manifestPublish=true
    // (object stores, where a directory rename is a copy), through the
    // versioned-dir + pointer-file layout. The append-only transactions
    // fact stays OUTSIDE the commit set in every mode: its day partitions
    // are immutable once written, so there is no version mixture to
    // protect against, and re-committing O(history) fact bytes nightly is
    // what carry-forward exists to avoid.
    val useManifest = spark.conf.getOption("spark.graft.etl.manifestPublish")
      .exists(_.toBoolean)
    // explicit atomicCommit always wins; an UNSET flag defaults to
    // atomic unless the caller explicitly chose the per-table manifest
    // layout (manifestPublish=true picks that non-default posture)
    val useAtomic = spark.conf.getOption("spark.graft.etl.atomicCommit")
      .map(_.toBoolean).getOrElse(!useManifest)
    val committedTables: Map[String, String] =
      if (useAtomic) WarehouseFs.currentCommit(spark, whDir).map(_._2).getOrElse(Map.empty)
      else Map.empty
    // a table's state before this run resolves, in order: the latest
    // commit set (atomic mode), a manifest-committed current version, the
    // plain directory (also the migration path into atomic mode)
    def readCommitted(name: String): Option[DataFrame] =
      if (useAtomic) {
        committedTables.get(name)
          .map(entry => WarehouseFs.readCommitEntry(spark, entry).getOrElse(
            // an expired version pin must fail LOUDLY: falling through to
            // the non-atomic table path would compute downstream tables
            // from a stale, possibly mid-write state
            throw new IllegalStateException(
              s"etl: $name resolves to an expired member version ($entry) " +
                "— raise the member table's keepVersions")))
          .orElse(WarehouseFs.readTable(spark, tablePath(name)))
      } else WarehouseFs.readTable(spark, tablePath(name))
    // a changed dim's new state, already materialized: atomic mode keeps
    // it for the commit, the other modes publish it now
    def stage(name: String, state: DataFrame): DataFrame = {
      if (!useAtomic) {
        if (useManifest) WarehouseFs.publishVersioned(state, tablePath(name))
        else WarehouseFs.publish(state, tablePath(name))
      }
      state
    }

    // wall ms per step for the closing log line: clocks only, no Spark action
    val stepMs = TrieMap.empty[String, Long]
    def timed[T](step: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally stepMs(step) = (System.nanoTime() - t0) / 1000000
    }
    val pool = Executors.newFixedThreadPool(3)
    def fork[T](body: => T): JFuture[T] = pool.submit(new Callable[T] { def call(): T = body })
    def awaitAll(branches: Seq[JFuture[_]]): Unit = {
      val failures = branches.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    }

    val termAttrs = Seq("terminal_type", "terminal_city", "terminal_address")

    // --- terminals: daily full snapshots → SCD2 history (main.py:556-565).
    // A load stamps its day into effective_from, so ONE probe finds the
    // feed days the history already holds; the others apply in day order,
    // each result materialized so the next apply plans against data.
    def loadTerminals(): Option[DataFrame] = {
      val loads = feed("terminals").map { case (day, path) =>
        (Timestamp.valueOf(s"$day 00:00:00"), path) }
      val hist0 = readCommitted("dwh_dim_terminals_hist")
      val loaded: Set[Timestamp] = hist0 match {
        case Some(h) if loads.nonEmpty =>
          h.filter(col("effective_from").isin(loads.map(_._1): _*))
            .select("effective_from").distinct().collect().map(_.getTimestamp(0)).toSet
        case _ => Set.empty
      }
      val pending = loads.filterNot { case (ts, _) => loaded(ts) }
      if (pending.isEmpty) None
      else Some(stage("dwh_dim_terminals_hist", pending.foldLeft(hist0) {
        case (hist, (ts, path)) =>
          Some(Scd.scd2Apply(spark, hist, BankFeeds.terminals(spark, path),
            "terminal_id", termAttrs, ts).localCheckpoint())
      }.get))
    }

    // --- blacklist: cumulative feed → SCD1 dim (main.py:566-570). All
    // passport feeds fold into one snapshot (the latest feed holding a
    // passport wins, Scd.scd1Latest) and apply once: the state of applying
    // them one after another, at one apply however many feeds there are.
    // Also returns the earliest entry_dt this run added, probed before a
    // non-atomic publish replaces the files the old state reads.
    def loadBlacklist(): Option[(DataFrame, Option[Date])] = {
      val feeds = feed("passport")
      if (feeds.isEmpty) None
      else {
        val before = readCommitted("dwh_fact_pssprt_blcklst")
        val snap = Scd.scd1Latest(
          feeds.map { case (_, path) => BankFeeds.blacklist(spark, path) }, "passport_num")
        val after = Scd.scd1Apply(before, snap, "passport_num", Seq("entry_dt"))
          .localCheckpoint()
        val added = before.fold(after)(after.exceptAll)
        val minEntry = Option(added.agg(min(col("entry_dt"))).head().getDate(0))
        Some((stage("dwh_fact_pssprt_blcklst", after), minEntry))
      }
    }

    // --- transactions: daily increments → append-only fact, partitioned by
    // day for partition pruning (the scalable form of main.py:417's
    // current-day filter). Loaded days come from the partition directory
    // names (pure filesystem metadata) — no fact scan, no collect. Each
    // new day lands in ONE append, already z-ordered
    // ([[zOrderTerminalTime]]) into files sized from the feed's bytes.
    val existingDays: Set[String] =
      WarehouseFs.listNames(spark, factPath)
        .filter(_.startsWith("day=")).map(_.stripPrefix("day=")).toSet
    val newDays = feed("transactions").filterNot { case (day, _) => existingDays(day) }
    def loadFact(): Seq[String] = {
      val zorder = spark.conf.getOption("spark.graft.etl.zorderFact").forall(_.toBoolean)
      for ((day, path) <- newDays) yield {
        val rows = BankFeeds.transactionsFact(spark, path)
          .withColumn("day", to_date(col("trans_date")))
        val laid =
          if (!zorder) rows
          else {
            val (fs, p) = WarehouseFs.fsFor(spark, path)
            zOrderTerminalTime(rows, filesFor(fs.getFileStatus(p).getLen))
          }
        laid.write.mode(SaveMode.Append).partitionBy("day").parquet(factPath)
        day
      }
    }

    // One commit spanning everything this run changed. Served tables are
    // VERSIONED MEMBER CHAINS at their own table paths ($wh/<name>): a
    // changed dim SYNCS by row-level delta into its chain
    // ([[WarehouseFs.syncToState]] — copy-on-write, only files holding
    // changed keys rewrite), the mart's report day lands as a CoW
    // partition overwrite, and ONE commit file pins every member's
    // current version (`table=@version` body lines,
    // [[WarehouseFs.publishAtomicVersioned]]). Member chains buy what
    // dir-style commit entries could not: cross-commit FILE sharing (an
    // unchanged-this-run table re-pins its version — zero I/O — and a
    // barely-changed one shares every untouched file), and
    // file-granular commit feeds ([[WarehouseFs.changeFeedCommitted]]
    // diffs only non-shared files — the reference's cumulative
    // blacklist feed of ~8 rows/day reads one rewritten file, never the
    // table). Legacy layouts (plain dirs, per-table manifests,
    // dir-style commit entries) lift into member chains exactly once.
    // The changed members write disjoint table paths, so they commit
    // concurrently; the seal runs only after every one of them succeeded.
    val memberKeep = 8 // member versions retained — covers the commit window
    val syncKeys = Map(
      "dwh_dim_terminals_hist" -> Seq("terminal_id", "effective_from"),
      "dwh_fact_pssprt_blcklst" -> Seq("passport_num"))
    // bloom file indexes keep the CoW syncs file-granular (touched-set
    // resolution) AND serve the investigation point lookups
    val bloomCols = Map(
      "rep_fraud" -> Seq("passport"),
      "dwh_fact_pssprt_blcklst" -> Seq("passport_num"),
      "dwh_dim_terminals_hist" -> Seq("terminal_id"))
    def commitAtomic(staged: Seq[(String, DataFrame)], martDay: Option[DataFrame]): Unit = {
      def isVersioned(n: String) =
        WarehouseFs.currentVersion(spark, tablePath(n)).isDefined
      // stats ride with every member publish: served tables are
      // dims/mart-sized (never the fact), so the profiling scan is cheap
      // and readers get committed row counts for join planning
      def lift(n: String, df: DataFrame, partBy: Seq[String] = Nil): Unit =
        WarehouseFs.publishVersioned(df, tablePath(n), partitionBy = partBy,
          keepVersions = memberKeep, collectStats = true,
          bloomIndexCols = bloomCols.getOrElse(n, Nil))
      def commitDim(n: String, state: DataFrame): Unit =
        if (isVersioned(n))
          WarehouseFs.syncToState(state, tablePath(n), syncKeys(n),
            keepVersions = memberKeep)
        else lift(n, state)
      def commitMart(rep: DataFrame): Unit =
        if (isVersioned("rep_fraud"))
          // CoW partition overwrite: replace only this run's report
          // day(s), carry every other day's files by reference
          WarehouseFs.overwritePartitions(rep, tablePath("rep_fraud"),
            Seq("report_dt"), keepVersions = memberKeep)
        else {
          // one-time lift: prior mart days (legacy layout) + this day
          val old = committedTables.get("rep_fraud")
            .flatMap(WarehouseFs.readCommitEntry(spark, _))
            .orElse(WarehouseFs.readTable(spark, tablePath("rep_fraud")))
          val full = old match {
            case Some(o) =>
              val days = rep.select("report_dt").distinct()
              o.select(rep.columns.map(col).toSeq: _*)
                .join(broadcast(days), Seq("report_dt"), "left_anti")
                .unionByName(rep)
            case None => rep
          }
          lift("rep_fraud", full, Seq("report_dt"))
        }
      val members = staged.map { case (n, state) => fork(commitDim(n, state)) } ++
        martDay.map(rep => fork(commitMart(rep)))
      timed("commit")(awaitAll(members))
      timed("seal") {
        var touched = members.nonEmpty
        // remaining legacy states (untouched this run, not yet versioned)
        // migrate once so the ENTIRE served set pins; tables a prior commit
        // carried beyond the served set migrate the same way
        val allServed = (servedTables ++ committedTables.keySet).distinct
        for (n <- allServed if !isVersioned(n)) {
          val legacy = committedTables.get(n)
            .flatMap(WarehouseFs.readCommitEntry(spark, _))
            .orElse(WarehouseFs.readTable(spark, tablePath(n)))
          legacy.foreach { df =>
            lift(n, df, if (n == "rep_fraud") Seq("report_dt") else Nil)
            touched = true
          }
        }
        // maintenance cadence: a member whose CoW chain spans more data
        // dirs than the budget folds back into ONE clean dir version
        // (indexes/stats preserved, CAS-pinned) BEFORE the seal, so the
        // commit pins the compacted state. Nightly syncs add ~1 dir per
        // changed member per run; without this the read-side union grows
        // one parquet relation per night forever. Deletion-vector commits
        // count toward the same span (each adds its version's dir to the
        // referenced set), and the fold reads MASKED and publishes a clean
        // dir version — so accumulated DVs retire here too and the
        // nightly path never serves a long mask chain. The fold rewrites the
        // member once per ~spanMax nights — amortized O(table/spanMax)
        // per night, and the next commit feed across it honestly scans
        // both sides (nothing is shared with the pre-fold version).
        val spanMax = spark.conf.getOption("spark.graft.etl.compactSpanDirs")
          .map(_.toInt).getOrElse(16)
        // second trigger, same fold: accumulated MASK ROWS. A
        // high-frequency merge-on-read delete workload can mask thousands
        // of rows while staying within a small dir span (deltas are tiny
        // files) — every read then pays the per-row mask check for rows
        // that will never come back. When the live mask exceeds the
        // budget, fold now rather than waiting for the span rule.
        val maskedMaxDefault = spark.conf
          .getOption("spark.graft.etl.compactMaskedRows")
          .map(_.toLong).getOrElse(100000L)
        def maskedMaxOf(n: String): Long = WarehouseFs
          .storedCompactMaskedRows(spark, tablePath(n)) // per-table property
          .getOrElse(maskedMaxDefault)
        for (n <- allServed if isVersioned(n)
             if WarehouseFs.versionSpanDirs(spark, tablePath(n)).exists(_ > spanMax) ||
               (WarehouseFs.hasDeletionVectors(spark, tablePath(n)) &&
                 WarehouseFs.deletionVectorRows(spark, tablePath(n)) > maskedMaxOf(n))) {
          graft.operators.ScaleJoins.compactParquet(spark, tablePath(n),
            keepVersions = memberKeep)
          touched = true
        }
        if (touched)
          WarehouseFs.publishAtomicVersioned(spark, Map.empty, whDir,
            pinCurrent = allServed.filter(isVersioned).toSet,
            keepVersions = memberKeep)
      }
    }

    // outside atomic mode the mart's report days land by dynamic partition
    // overwrite: only the report days present in this run's output are
    // replaced — historical mart partitions survive untouched (the
    // scalable form of the reference's per-day delete+insert)
    def overwriteReportDays(rep: DataFrame): Unit = {
      val mode0 = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try rep.write.mode(SaveMode.Overwrite).partitionBy("report_dt").parquet(tablePath("rep_fraud"))
      finally mode0 match {
        // restore the caller's mode — leaking `dynamic` session-wide
        // changes the meaning of every later INSERT OVERWRITE
        case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }

    // until the run's commit lands, a failure removes the new fact days
    var committed = false
    try {
      val termF = fork(timed("terminals")(loadTerminals()))
      val blF = fork(timed("blacklist")(loadBlacklist()))
      val factF = fork(timed("fact")(loadFact()))
      awaitAll(Seq(termF, blF, factF))
      val staged: Seq[(String, DataFrame)] =
        termF.get().map("dwh_dim_terminals_hist" -> _).toSeq ++
          blF.get().map("dwh_fact_pssprt_blcklst" -> _._1)
      // reads from here on see this run's staged states first
      def readIf(name: String): Option[DataFrame] =
        staged.collectFirst { case (`name`, df) => df }.orElse(readCommitted(name))
      val loadedDays = factF.get()
      val blAddedMinEntry = blF.get().flatMap(_._2)

      // --- fraud mart, INCREMENTAL over the days this run loaded (the
      // scalable form of main.py:574-576: the reference itself only
      // touches the current day, main.py:417). The fact is
      // day-partitioned, so every slice below is partition PRUNING — the
      // nightly run reads O(days loaded), never O(history).
      //
      // Each CONTIGUOUS run of newly loaded days becomes its own window
      // [a, b]: the a-1 lookback day feeds rule 3's ±1 h window across the
      // midnight boundary (its own already-reported events are cut back
      // out by the event-day >= a filter), and when day b+1 was loaded by
      // an EARLIER run (a backfilled middle day), the window extends right
      // to re-derive b→b+1 midnight-crossing pairs that could not exist
      // when b+1 originally ran. Days re-derived this way (and days
      // re-examined for a retroactive blacklist entry) are deduplicated by
      // anti-joining the existing mart on the full event row — only
      // genuinely new events are appended, so event rows never duplicate
      // across report_dt partitions. The anti-join relies on the
      // derivation being deterministic for unchanged inputs (it is: every
      // rule is a pure transformation); it only runs on out-of-order or
      // retroactive runs, never on the in-order nightly hot path.
      //
      // A run that loaded nothing new and added no retroactive blacklist
      // entry keeps the mart as-is (idempotent re-run); with no mart yet
      // it falls back to a full-history rebuild (backfill).
      // Terminal-attribute changes do NOT trigger re-derivation: the view
      // joins the terminal history as-of run time, exactly like the
      // reference (main.py:417) — past mart rows keep the dims they were
      // derived with.
      //
      // Left: why the mart is unchanged. Right: this run's (merged) report
      // day, materialized, with the log summary of how it was derived.
      def deriveMart(): Either[String, (DataFrame, String)] = {
        if (!WarehouseFs.hasData(spark, factPath) || readIf("dwh_dim_terminals_hist").isEmpty)
          return Left("no transactions/terminals loaded — skipping fraud mart")
        // --- bank dimension tables (pre-existing in the reference's
        // Oracle). Resolution order: explicit parquet fixtures → JDBC if
        // the env gate is set (graft.sources.BankJdbc — the reference's
        // actual transport, main.py:410-414) → deterministic demo fixtures.
        val (clients, accounts, cards) = bankDir match {
          case Some(dir) =>
            (spark.read.parquet(s"$dir/clients.parquet"),
             spark.read.parquet(s"$dir/accounts.parquet"),
             spark.read.parquet(s"$dir/cards.parquet"))
          case None => graft.sources.BankJdbc.fromEnv() match {
            case Some(cfg) =>
              (graft.sources.BankJdbc.readTable(spark, cfg, "bank.clients"),
               graft.sources.BankJdbc.readTable(spark, cfg, "bank.accounts"),
               graft.sources.BankJdbc.readTable(spark, cfg, "bank.cards"))
            case None => demoBankTables(spark, whDir,
              blacklist = readIf("dwh_fact_pssprt_blcklst"))
          }
        }
        // the mart resolves like every served table
        def readMart(): Option[DataFrame] = readIf("rep_fraud")
        val martExists = readMart().isDefined
        val allDays = WarehouseFs.listNames(spark, factPath)
          .filter(_.startsWith("day=")).map(_.stripPrefix("day=")).sorted
        def nextDay(d: String) = java.time.LocalDate.parse(d).plusDays(1).toString
        def prevDay(d: String) = java.time.LocalDate.parse(d).minusDays(1).toString
        // contiguous [a, b] runs of the newly loaded days; one all-covering
        // window when there is no mart yet (backfill rebuilds everything)
        val windows: Seq[(String, String)] =
          if (!martExists) { if (allDays.isEmpty) Nil else Seq((allDays.head, allDays.last)) }
          else loadedDays.sorted.foldLeft(Vector.empty[(String, String)]) {
            case (acc :+ ((a, b)), d) if nextDay(b) == d => acc :+ (a -> d)
            case (acc, d) => acc :+ (d -> d)
          }
        // right-edge extension: day b+1 exists from an earlier run →
        // re-derive its rows (anti-joined below) to recover b→b+1 pairs
        val extended: Seq[(String, String, Option[String])] = windows.map { case (a, b) =>
          (a, b, Some(nextDay(b)).filter(d => martExists && existingDays.contains(d)))
        }
        // retroactive blacklist scope: entries added by this run whose
        // entry_dt reaches back to an already-loaded fact day — rule 1
        // would have flagged those past transactions had the entry
        // existed. Previously loaded days on/after the earliest added
        // entry_dt, minus days this run already (re-)derives.
        val covered = extended.flatMap { case (a, b, ext) =>
          Iterator.iterate(a)(nextDay).takeWhile(_ <= b) ++ ext
        }.toSet
        val retroDays: Seq[String] =
          if (!martExists) Nil
          else blAddedMinEntry.toSeq.flatMap { minEntry =>
            existingDays.toSeq.filter(d => d >= minEntry.toString && !covered(d))
          }.sorted
        if (windows.isEmpty && retroDays.isEmpty)
          return Left("no new transaction days, no retroactive blacklist — fraud mart unchanged")

        val hist = readIf("dwh_dim_terminals_hist").get
        val bl = readIf("dwh_fact_pssprt_blcklst").get
        val asOfTs = asOf.getOrElse(new Timestamp(System.currentTimeMillis()))
        val reportDt = new Date(asOfTs.getTime)
        val evCols = Seq("event_dt", "passport", "fio", "phone", "event_type")
        // full event rows already in the mart — the dedup side of the
        // anti-joins; only read when an extension/retro pass actually runs
        lazy val martRows = readMart().get
          .select(evCols.map(col): _*)
        def derive(from: String, to: String): DataFrame = {
          val tx = factSlice(spark, factPath, Date.valueOf(from), Date.valueOf(to))
          val view = FraudDetection.dataView(clients, accounts, cards, tx, hist, asOfTs)
          FraudDetection.repFraud(view, bl, reportDt)
        }

        val windowEvs = extended.map { case (a, b, ext) =>
          val ev = derive(prevDay(a), ext.getOrElse(b))
            .filter(to_date(col("event_dt")) >= lit(Date.valueOf(a)))
          ext match {
            case None => ev
            case Some(e) =>
              // [a, b] days are new — nothing to deduplicate; the re-derived
              // extension day keeps only events absent from the mart
              val inWin = ev.filter(to_date(col("event_dt")) <= lit(Date.valueOf(b)))
              val extNew = ev.filter(to_date(col("event_dt")) === lit(Date.valueOf(e)))
                .join(martRows, evCols, "left_anti")
              inWin.unionByName(extNew.select(ev.columns.map(col).toSeq: _*))
          }
        }
        // retro pass: re-derive the affected days with the updated
        // blacklist; everything previously reported anti-joins away,
        // leaving exactly the new rule-1 events. No lookback: rule 1 is
        // per-transaction, and any rule-3 row here is already in the mart.
        val retroEvs = retroDays match {
          case Nil => Nil
          case ds =>
            val ev = derive(ds.head, ds.last)
              .filter(to_date(col("event_dt")).isInCollection(ds.map(Date.valueOf)))
              .join(martRows, evCols, "left_anti")
            Seq(ev)
        }
        val newEvents = (windowEvs ++ retroEvs)
          .map(_.select(evCols.map(col) :+ col("report_dt"): _*))
          .reduce(_ unionByName _)
        // a second run under the SAME report_dt (late feed batch on the
        // same calendar day) must not drop what the first run wrote: the
        // commit replaces the whole partition, so merge it back in
        val rep = (if (martExists)
            newEvents.unionByName(
              readMart().get.filter(col("report_dt") === lit(reportDt))
                .select(evCols.map(col) :+ col("report_dt"): _*)).distinct()
          else newEvents)
        val winStr = extended.map { case (a, b, ext) =>
          s"$a..$b${ext.map("+" + _).getOrElse("")}" }.mkString(",")
        // materialized BEFORE any commit truncates the partition it may be
        // reading (the merge and anti-joins read the mart itself); rep is
        // bounded by the run's windows, so this is O(new events). The row
        // count for the log rides on the same job.
        val rows = new org.apache.spark.sql.Observation("rep_fraud_rows")
        val repFinal = rep.observe(rows, count(lit(1)).as("n")).localCheckpoint()
        Right((repFinal, s"fact_days=${allDays.size} loaded=${loadedDays.size} " +
          s"windows=$winStr retro=${retroDays.size} rep_fraud=${rows.get("n")}"))
      }
      val mart = timed("mart")(deriveMart())
      val martDay = mart.toOption.map(_._1)

      if (useAtomic) commitAtomic(staged, martDay)
      else martDay.foreach(rep => timed("commit")(overwriteReportDays(rep)))
      committed = true
      val steps = Seq("terminals", "blacklist", "fact", "mart", "commit", "seal")
        .map(s => s"$s=${stepMs.getOrElse(s, 0L)}").mkString(" ")
      println(s"[etl] ${mart.fold(identity, _._2)}; wall ms: $steps")
    } catch {
      case NonFatal(e) if !committed =>
        newDays.foreach { case (day, _) =>
          WarehouseFs.deleteIfExists(spark, s"$factPath/day=$day") }
        throw e
    } finally pool.shutdown()
  }

  /** Z-order-compact the named day partitions of the transactions fact in
    * place. Within a day partition the two query dimensions left are the
    * terminal and the time of day; clustering along the Morton curve over
    * both keeps parquet min/max stats tight on each, so a pushed
    * `terminal = X` (or a time-slice) filter skips most row groups
    * (EtlPipelineSpec asserts it via scan metrics).
    *
    * The terminal key is its DICTIONARY RANK over the day's distinct
    * terminals: monotone with the string order (so the string column's
    * min/max stay tight per file — a hash key would defeat stats pruning)
    * AND equi-distributed over the scaled domain. An arithmetic encoding
    * of the id (r5 used ascii(letter)·1e7 + suffix) is also monotone but
    * lets the widest component eat the 16-bit scale: with ids like
    * `A1096`/`P5456` the letter spans 15e7 while suffixes span 1e4, so
    * every same-letter terminal collapsed to ~2 scaled bits and a point
    * query materialized its whole letter's stripe (~57% of the day,
    * measured). Ranks cost one small distinct + broadcast join per day —
    * distinct terminals are device-count-sized at any corpus scale. The
    * rank sits second in the curve (the dominant interleaved bit)
    * because point-terminal scoping is the hotter access path.
    *
    * The rewrite is the same rows in a new order, published atomically
    * per partition dir; nightly cost is O(days loaded). File count
    * follows the ~`targetMB` compaction sizing unless `filesPerDay`
    * overrides it. */
  def zOrderFactDays(spark: SparkSession, factPath: String, days: Seq[String],
                     filesPerDay: Option[Int] = None, targetMB: Int = 128): Unit =
    for (day <- days) {
      val dir = s"$factPath/day=$day"
      val files = filesPerDay.getOrElse(filesFor(WarehouseFs.parquetBytes(spark, dir), targetMB))
      WarehouseFs.publish(zOrderTerminalTime(spark.read.parquet(dir), files), dir)
    }

  /** Files for `bytes` of fact data at ~`targetMB` per file. */
  private def filesFor(bytes: Long, targetMB: Int = 128): Int =
    math.max(1, math.ceil(bytes / (targetMB * 1024.0 * 1024.0)).toInt)

  /** The [[zOrderFactDays]] layout of fact rows: `df` clustered along the
    * Morton curve over (trans_date, terminal rank) into `files`
    * partitions, columns unchanged. The nightly load writes new days
    * through it directly; zOrderFactDays rewrites existing days with it. */
  private def zOrderTerminalTime(df: DataFrame, files: Int): DataFrame = {
    // single-task window is fine: the distinct-terminal relation is
    // tiny (devices, not transactions) and broadcasts back
    val ranks = df.select(col("terminal")).distinct()
      .withColumn("__tk", org.apache.spark.sql.functions.row_number()
        .over(org.apache.spark.sql.expressions.Window.orderBy("terminal"))
        .cast("long"))
    // LEFT join + coalesce: a NULL terminal never equi-joins, and the
    // layout must keep "same rows, new order" for any input — an inner
    // join would silently DROP such rows
    graft.operators.ScaleJoins.zOrderCluster(
      df.join(broadcast(ranks), Seq("terminal"), "left"),
      unix_timestamp(col("trans_date")), coalesce(col("__tk"), lit(0L)), files)
      .select(df.columns.map(col).toSeq: _*) // join reordered columns; restore
  }

  /** Day-window slice of the day-partitioned transactions fact. The
    * filter lands on the `day` PARTITION column, so the scan's
    * PartitionFilters prune to the window's directories — file listing
    * and bytes read are O(window), not O(history). EtlPipelineSpec
    * asserts the pruned file count against the scan metrics. */
  def factSlice(spark: SparkSession, factPath: String,
                from: Date, to: Date): DataFrame =
    spark.read.parquet(factPath)
      .filter(col("day").between(lit(from), lit(to)))

  /** Deterministic demo bank.* fixtures derived from the cards seen in the
    * fact — DEMO ONLY: real deployments pass bankDir. First 5 clients'
    * passports are wired to blacklist entries so rule 1 has positives.
    */
  /** Resolve a served warehouse table regardless of publish mode, in
    * the same order the pipeline itself reads: latest commit set
    * (atomic mode, the default) → per-table manifest version → plain
    * directory (legacy layouts). */
  def readServed(spark: SparkSession, whDir: String,
                 name: String): Option[DataFrame] =
    WarehouseFs.readCommitted(spark, whDir, name)
      .orElse(WarehouseFs.readTable(spark, s"$whDir/$name"))

  def demoBankTables(spark: SparkSession, whDir: String,
                     blacklist: Option[DataFrame] = None): (DataFrame, DataFrame, DataFrame) = {
    val tx = spark.read.parquet(s"$whDir/dwh_fact_transactions")
    val cardsSeen = withDenseId(
      tx.select(trim(col("card_num")).as("card_num")).distinct(), "card_num", "cid")
    val cards = cardsSeen.select(col("card_num"), concat(lit("ACC"), col("cid")).as("account"))
    val accounts = cardsSeen.select(
      concat(lit("ACC"), col("cid")).as("account"),
      to_date(lit("2030-01-01")).as("valid_to"),
      col("cid").as("client"))
    val bl = withDenseId(
      blacklist.orElse(
        readServed(spark, whDir, "dwh_fact_pssprt_blcklst")).get,
      "passport_num", "bid")
    val clients = cardsSeen
      .join(bl.select(col("bid").as("cid"), col("passport_num").as("bl_passport")),
        Seq("cid"), "left")
      .select(
        col("cid").as("client_id"),
        concat(lit("Фамилия"), col("cid")).as("last_name"),
        concat(lit("Имя"), col("cid")).as("first_name"),
        concat(lit("Отчество"), col("cid")).as("patronymic"),
        coalesce(col("bl_passport"), concat(lit("9999 "), col("cid"))).as("passport_num"),
        to_date(lit("2030-01-01")).as("passport_valid_to"),
        concat(lit("+7 900 "), col("cid")).as("phone"))
    (clients, accounts, cards)
  }

  /** Dense 1-based id by sort order of `keyCol`, partition-parallel: the
    * sort range-partitions, zipWithIndex adds one count-per-partition job —
    * unlike a global-Window row_number(), no single-partition funnel.
    */
  private def withDenseId(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val indexed = df.orderBy(keyCol).rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(indexed,
      df.schema.add(idCol, org.apache.spark.sql.types.LongType, nullable = false))
  }
}
