package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SCD1 / SCD2 maintenance as snapshot-rewrite transformations.
  *
  * The reference maintains its terminals history with two in-place
  * UPDATEs + three INSERTs against Oracle (main.py:129-186) and its
  * blacklist fact with an anti-join INSERT (main.py:229-296). Spark has no
  * in-place mutation over files, so both become a single pure
  * old-state × snapshot → new-state transformation written atomically —
  * which also removes the reference's non-transactional window between its
  * close and insert statements (SURVEY §3.2).
  *
  * Semantics preserved from the reference:
  *   - sentinel `effective_to` = 2999-12-31 23:59:59 (main.py:50)
  *   - versions close at loadTs − 1 second (`sysdate - 1/24/60/60`,
  *     main.py:133, 139)
  *   - deleted keys stay in history as a fresh version with
  *     deleted_flg = 1 (main.py:171-186)
  *   - change detection = OR of attribute disequalities (main.py:117-123)
  *
  * Scale: every step is a key-partitioned join of the history with the
  * (daily, much smaller) snapshot — broadcastable snapshot, one shuffle of
  * history by key; at 100 TB the history table would be bucketed by the
  * business key so the joins are shuffle-free.
  *
  * IMPORTANT — materialize between loads: the result plan references the
  * input history ~5× (anti/semi/union branches), so chaining N loads as
  * pure DataFrames grows the logical plan ~5^N and Catalyst chokes long
  * before the data does. Real usage writes the new history per load (the
  * snapshot rewrite) which resets lineage; in-memory chains must
  * `localCheckpoint()` between applications — see ScdSpec.
  */
object Scd {
  val SentinelTs: Timestamp = Timestamp.valueOf("2999-12-31 23:59:59")

  /** One SCD2 load: apply a full `snapshot` to `hist` as of `loadTs`.
    *
    * @param hist     current history (key ++ attrs ++ deleted_flg,
    *                 effective_from, effective_to); pass `None` for the
    *                 first load
    * @param snapshot full snapshot (key ++ attrs)
    */
  def scd2Apply(spark: SparkSession, hist: Option[DataFrame], snapshot: DataFrame,
                key: String, attrs: Seq[String], loadTs: Timestamp): DataFrame = {
    val closeTs = new Timestamp(loadTs.getTime - 1000L)
    val emptyHist = {
      val cols = snapshot.schema.fields.map(f => StructField(f.name, f.dataType)) ++ Seq(
        StructField("deleted_flg", IntegerType),
        StructField("effective_from", TimestampType),
        StructField("effective_to", TimestampType))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(cols))
    }
    val h = hist.getOrElse(emptyHist)

    // active = rows valid "now" and not deleted — the reference's
    // v_terminals_hist view (main.py:56-67)
    val active = h.filter(col("effective_to") === lit(SentinelTs) && col("deleted_flg") === 0)
    val snap = snapshot.select(key, attrs: _*)

    val newRows = snap.join(active.select(key), Seq(key), "left_anti") // J1
    val delKeys = active.select(key).join(snap.select(key), Seq(key), "left_anti") // J2
    val changed = snap.alias("s").join(active.alias("h"), Seq(key), "inner") // J3
      .filter(attrs.map(a => col(s"s.$a") =!= col(s"h.$a")).reduce(_ || _))
      .select(col(key) +: attrs.map(a => col(s"s.$a").as(a)): _*)

    // a deleted key reappearing in the snapshot must close its open
    // tombstone, or the key ends up with two open versions. (The reference
    // never closes tombstones — its active view hides the quirk because it
    // filters deleted_flg; found by ScdPropertySpec, fixed as documented
    // sane behavior per SURVEY §7.3.)
    val reappearing = snap.select(key).join(
      h.filter(col("effective_to") === lit(SentinelTs) && col("deleted_flg") === 1)
        .select(key), Seq(key), "left_semi")

    val closingKeys = delKeys.union(changed.select(key)).union(reappearing).distinct()

    // close affected versions (UPDATEs at main.py:131-142)
    val untouched = h.join(closingKeys, Seq(key), "left_anti")
    val closed = h.join(closingKeys, Seq(key), "left_semi")
      .withColumn("effective_to",
        when(col("effective_to") === lit(SentinelTs), lit(closeTs))
          .otherwise(col("effective_to")))

    def version(df: DataFrame, flag: Int): DataFrame =
      df.select(col(key) +: attrs.map(col): _*)
        .withColumn("deleted_flg", lit(flag))
        .withColumn("effective_from", lit(loadTs))
        .withColumn("effective_to", lit(SentinelTs))

    // deleted keys re-enter with their last-known attributes (main.py:171-186)
    val delVersions = version(
      active.join(delKeys, Seq(key), "left_semi"), flag = 1)

    untouched
      .unionByName(closed)
      .unionByName(version(newRows, 0))
      .unionByName(version(changed, 0))
      .unionByName(delVersions)
  }

  /** One SCD1 upsert: insert new keys, overwrite changed attributes
    * (reference: anti-join INSERT for news at main.py:243-252 plus
    * changed-row replacement at main.py:259-296).
    */
  def scd1Apply(fact: Option[DataFrame], snapshot: DataFrame,
                key: String, attrs: Seq[String]): DataFrame = {
    val snap = snapshot.select(key, attrs: _*)
    fact match {
      case None => snap
      case Some(f) =>
        val kept = f.join(snap.select(key), Seq(key), "left_anti")
        kept.unionByName(snap) // snapshot rows win for all present keys
    }
  }

  /** Fold a day-ordered sequence of SCD1 snapshots into one, such that
    * `scd1Apply(fact, scd1Latest(snaps, key), key, attrs)` equals applying
    * each snapshot in turn. Per key, the rows of the latest snapshot that
    * holds it survive, duplicates within that snapshot included; NULL keys
    * never match in the anti-join, so every snapshot's NULL-key rows
    * survive, as they do in the chain. [[scd1Apply]] is an associative
    * upsert, which is what makes the fold exact. One apply instead of one
    * per snapshot: the nightly run receives the cumulative blacklist feed
    * of every day so far.
    */
  def scd1Latest(snapshots: Seq[DataFrame], key: String): DataFrame = {
    require(snapshots.nonEmpty, "scd1Latest: no snapshots")
    if (snapshots.size == 1) snapshots.head
    else {
      val tagged = snapshots.zipWithIndex
        .map { case (s, i) => s.withColumn("__snap", lit(i)) }
        .reduce(_ unionByName _)
      tagged
        .withColumn("__last", max(col("__snap")).over(Window.partitionBy(key)))
        .filter(col(key).isNull || col("__snap") === col("__last"))
        .drop("__snap", "__last")
    }
  }

  /** Validity view over an SCD2 history: rows active at `asOf` —
    * the reference's `sysdate between effective_from and effective_to and
    * deleted_flg = 0` view predicate (main.py:64-65).
    */
  def activeAt(hist: DataFrame, asOf: Timestamp): DataFrame =
    hist.filter(lit(asOf).between(col("effective_from"), col("effective_to")) &&
                col("deleted_flg") === 0)

  /** Point-in-time (as-of) join: each fact row picks the dimension version
    * that was active at the row's own event time — the per-row
    * generalization of [[activeAt]] (which the reference can only do for
    * "now" because its view hard-codes sysdate). Equi join on the business
    * key with a validity-interval residual: hash join on the key, residual
    * filter per match. SCD2 intervals are disjoint per key, so each fact
    * row matches at most one version; `how` = "left" keeps facts whose
    * event time precedes the first version.
    */
  def asOfJoin(fact: DataFrame, hist: DataFrame, key: String,
               tsCol: String, how: String = "inner"): DataFrame =
    fact.join(
      hist.filter(col("deleted_flg") === 0),
      fact(key) === hist(key) &&
        fact(tsCol).between(hist("effective_from"), hist("effective_to")),
      how)
      .drop(hist(key))
}
