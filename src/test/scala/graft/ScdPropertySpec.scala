package graft

import java.sql.Timestamp
import graft.operators.Scd
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests for the SCD2 engine (SURVEY §5.2): for ANY sequence of
  * snapshots, the history keeps disjoint abutting intervals, at most one
  * open version per key, and replaying a snapshot is a fixpoint.
  */
class ScdPropertySpec extends SparkSpec {
  import spark.implicits._

  private val attrs = Seq("attr")
  private def ts(day: Int) = Timestamp.valueOf(f"2021-03-$day%02d 00:00:00")

  private val snapshotGen: Gen[Map[String, String]] = for {
    keys <- Gen.someOf(Seq("k1", "k2", "k3", "k4"))
    vals <- Gen.listOfN(keys.size, Gen.oneOf("a", "b", "c"))
  } yield keys.zip(vals).toMap

  private def toDf(snap: Map[String, String]): DataFrame =
    snap.toSeq.toDF("key", "attr")

  private def applyAll(snaps: List[Map[String, String]]): DataFrame =
    snaps.zipWithIndex.foldLeft(Option.empty[DataFrame]) {
      case (hist, (snap, i)) =>
        Some(Scd.scd2Apply(spark, hist, toDf(snap), "key", attrs, ts(i + 1))
          .localCheckpoint())
    }.get

  test("SCD2 invariants hold for arbitrary snapshot sequences") {
    val prop = Prop.forAll(Gen.listOfN(3, snapshotGen)) { snaps0 =>
      val snaps = snaps0.map(s => if (s.isEmpty) Map("k1" -> "a") else s)
      val hist = applyAll(snaps)

      val openPerKey = hist.filter(col("effective_to") === Scd.SentinelTs)
        .groupBy("key").count().filter(col("count") > 1).count() == 0

      val overlaps = hist.alias("a").join(hist.alias("b"), "key")
        .filter(col("a.effective_from") < col("b.effective_from") &&
                col("a.effective_to") >= col("b.effective_from"))
        .count() == 0

      // active rows == last snapshot exactly
      val active = Scd.activeAt(hist, ts(snaps.size + 1)).select("key", "attr")
      val last = toDf(snaps.last)
      val activeMatches = active.exceptAll(last).isEmpty && last.exceptAll(active).isEmpty

      // replay of the last snapshot is a fixpoint
      val replay = Scd.scd2Apply(spark, Some(hist), toDf(snaps.last), "key", attrs,
        ts(snaps.size + 1))
      val fixpoint = replay.count() == hist.count()

      openPerKey && overlaps && activeMatches && fixpoint
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  // SCD1 rows: (key, attr); NULL keys included, since they never match
  private type Rows = List[(String, String)]
  private def rowsDf(rows: Rows): DataFrame = rows.toDF("key", "attr")
  private def sorted(df: DataFrame): Seq[(String, String)] =
    df.select("key", "attr").collect().toSeq
      .map(r => (r.getString(0), r.getString(1))).sortBy(_.toString)

  /** The sequential chain the nightly run used to apply, one feed at a
    * time, against the one apply of the folded feeds. */
  private def foldEqualsChain(init: Option[Rows], feeds: List[Rows]): Boolean = {
    val start = init.map(rowsDf)
    val chain = feeds.foldLeft(start)((state, f) =>
      Some(Scd.scd1Apply(state, rowsDf(f), "key", attrs)))
    val folded = Scd.scd1Apply(start, Scd.scd1Latest(feeds.map(rowsDf), "key"), "key", attrs)
    sorted(chain.get) == sorted(folded)
  }

  test("SCD1: one apply of the folded feeds equals the sequential scd1Apply chain") {
    // duplicate keys within a feed, a key a later feed drops, an empty feed
    assert(foldEqualsChain(Some(List("k1" -> "a", "k2" -> "a")), List(
      List("k1" -> "b", "k1" -> "c", "k3" -> "a"),
      List(),
      List("k3" -> "b", "k4" -> "a", "k4" -> "a", (null, "x")),
      List("k4" -> "c", (null, "y")))))
    val keyGen = Gen.frequency(8 -> Gen.oneOf("k1", "k2", "k3", "k4"), 1 -> Gen.const(null))
    val rowsGen: Gen[Rows] = Gen.choose(0, 5).flatMap(n =>
      Gen.listOfN(n, Gen.zip(keyGen, Gen.oneOf("a", "b", "c"))))
    val prop = Prop.forAll(Gen.option(rowsGen), Gen.choose(1, 4).flatMap(Gen.listOfN(_, rowsGen))) {
      (init, feeds) => foldEqualsChain(init, feeds)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }
}
