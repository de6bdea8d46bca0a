package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The two folds the changelog consumers rest on:
  *
  *  (i) the copy-on-write diff kernel [[GraftTable.netDiff]] (one signed
  *      aggregate) equals the two-`exceptAll` multiset diff it replaced,
  *      on multisets with duplicate rows, NULLs, NaN and −0.0;
  *  (ii) one collapsed [[TableReplicator.sync]] over a chain of commits
  *      (net change per key, one replica commit) leaves the replica
  *      exactly where per-commit replay leaves it. Per-commit replay is a
  *      second replica synced after every source operation, so each of
  *      its syncs covers one data commit.
  *
  * Both run as seeded ScalaCheck properties; the fixed cases below them
  * pin the named chain shapes and any shrunk counterexample.
  */
class ChangelogNetSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_net").toString + "/t"

  private def check(label: String, p: Prop, trials: Int, seed: Long): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(trials).withInitialSeed(Seed(seed)), p)
    assert(res.passed, s"$label: $res")
  }

  /** A row's exact value, −0.0 and NaN spelled out, so a canonicalized
    * multiset compare cannot hide a normalization difference.
    */
  private def canon(r: Row): String = r.toSeq.map {
    case d: java.lang.Double => java.lang.Double.toString(d)
    case null => "NULL"
    case x => x.toString
  }.mkString("|")

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(canon).sorted

  // ------------------------------------------------ (i) the one-pass diff

  private val rowSchema = StructType(Seq(
    StructField("k", LongType), StructField("d", DoubleType),
    StructField("s", StringType)))

  private type R = (Option[Long], Option[Double], Option[String])

  private def frame(rows: Seq[R]): DataFrame =
    spark.createDataFrame(rows.map { case (k, d, s) =>
      Row(k.map(Long.box).orNull, d.map(Double.box).orNull, s.orNull)
    }.asJava, rowSchema)

  private def assertDiffMatches(before: Seq[R], after: Seq[R]): Unit = {
    val (b, a) = (frame(before), frame(after))
    val expected = b.exceptAll(a).withColumn("_change_type", lit("delete"))
      .unionAll(a.exceptAll(b).withColumn("_change_type", lit("insert")))
    val got = GraftTable.netDiff(b, a)
    assert(got.columns.toSeq == expected.columns.toSeq)
    assert(multiset(got) == multiset(expected), s"before=$before after=$after")
  }

  private val genRow: Gen[R] = for {
    k <- Gen.option(Gen.choose(1L, 3L))
    d <- Gen.option(Gen.oneOf(Double.NaN, -0.0, 0.0, 1.5))
    s <- Gen.option(Gen.oneOf("a", "b"))
  } yield (k, d, s)

  private val genSide: Gen[List[R]] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, genRow))

  test("one-pass CoW diff equals exceptAll both ways (seeded multisets)") {
    check("netDiff", Prop.forAll(genSide, genSide) { (before, after) =>
      assertDiffMatches(before, after); true
    }, trials = 25, seed = 20261017L)
  }

  test("one-pass CoW diff: duplicates, NULLs, NaN and -0.0 (fixed cases)") {
    val nan: R = (Some(1L), Some(Double.NaN), Some("a"))
    val negZero: R = (Some(1L), Some(-0.0), None)
    val posZero: R = (Some(1L), Some(0.0), None)
    val nulls: R = (None, None, None)
    val plain: R = (Some(2L), Some(1.5), Some("b"))
    // three copies in, one out: two deletes, not one
    assertDiffMatches(Seq(plain, plain, plain), Seq(plain))
    // NaN groups with NaN; an all-NULL row groups with itself
    assertDiffMatches(Seq(nan, nan, nulls), Seq(nan, nulls, nulls))
    // -0.0 and 0.0 group together, as in any Spark grouping
    assertDiffMatches(Seq(negZero, negZero), Seq(posZero))
    // identical sides: empty diff; one empty side: the other side whole
    assertDiffMatches(Seq(plain, nan), Seq(nan, plain))
    assertDiffMatches(Nil, Seq(plain, plain, nulls))
    assertDiffMatches(Seq(negZero, nan), Nil)
  }

  // ------------------------------------ (ii) collapsed sync vs per-commit

  /** One source operation. Column names are resolved at run time, since a
    * rename in the chain changes them.
    */
  private sealed trait Op
  private case class Append(rows: List[(Option[Long], Double)]) extends Op
  private case class CowDelete(rem: Int) extends Op
  private case class CowUpdate(rem: Int, v: Double) extends Op
  private case class CowMerge(keys: List[Long], v: Double) extends Op
  private case class MorUpsert(keys: List[Option[Long]], v: Double) extends Op
  private case class EqDelete(keys: List[Option[Long]]) extends Op
  private case object Compact extends Op
  private case object Materialize extends Op
  private case object RenameValue extends Op

  /** The source under test plus its two replicas: the one at
    * `perCommitLoc` syncs after every operation, the one at
    * `collapsedLoc` once, in [[assertConverged]].
    */
  private final class Chain(initial: Seq[(Option[Long], Double)]) {
    var keyName = "k"
    var valueName = "v"
    private var renames = 0
    val source: GraftTable = GraftTable.createAs(spark, tmp(), rows(initial))
    val perCommitLoc: String = tmp()
    val collapsedLoc: String = tmp()
    TableReplicator.create(spark, perCommitLoc, source, Seq(keyName))
    TableReplicator.create(spark, collapsedLoc, source, Seq(keyName))

    def rows(rs: Seq[(Option[Long], Double)]): DataFrame =
      spark.createDataFrame(rs.map { case (k, v) =>
        Row(k.map(Long.box).orNull, v, k.map(x => s"r$x").orNull)
      }.asJava, StructType(Seq(StructField(keyName, LongType),
        StructField(valueName, DoubleType), StructField("s", StringType))))

    def apply(op: Op): Unit = {
      op match {
        case Append(rs) => source.append(rows(rs))
        case CowDelete(r) => source.delete(s"$keyName % 3 = $r")
        case CowUpdate(r, v) =>
          source.update(s"$keyName % 3 = $r", Map(valueName -> v.toString))
        case CowMerge(ks, v) =>
          source.mergeInto(rows(ks.map(k => (Some(k), v))), Seq(keyName))
        case MorUpsert(ks, v) =>
          source.upsertMergeOnRead(rows(ks.map(k => (k, v))), Seq(keyName))
        case EqDelete(ks) =>
          source.deleteMergeOnReadEquality(
            rows(ks.map(k => (k, 0.0))).select(keyName), Seq(keyName))
        case Compact => source.compact()
        case Materialize => source.materializeDeletes()
        case RenameValue =>
          // evolution refuses under pending MOR deletes (their files carry
          // the old names), so the rename rides a materialization
          source.materializeDeletes()
          renames += 1
          val to = s"v$renames"
          source.renameColumn(valueName, to)
          valueName = to
      }
      TableReplicator.sync(spark, perCommitLoc)
      ()
    }

    def renameKey(to: String): Unit = {
      source.materializeDeletes()
      source.renameColumn(keyName, to)
      keyName = to
      TableReplicator.sync(spark, perCommitLoc)
      ()
    }

    /** Sync the collapsed replica once and compare it to the per-commit
      * one; the collapsed sync may add at most one data snapshot.
      */
    def assertConverged(ops: Seq[Op]): Unit = {
      def dataSnaps(loc: String) = GraftTable.load(spark, loc).meta.snapshots
        .count(s => s.operation != "rewrite-deletes")
      val before = dataSnaps(collapsedLoc)
      TableReplicator.sync(spark, collapsedLoc)
      assert(dataSnaps(collapsedLoc) - before <= 1,
        s"a collapsed sync adds at most one data commit (ops=$ops)")
      val per = GraftTable.load(spark, perCommitLoc).toDF()
      val net = GraftTable.load(spark, collapsedLoc).toDF()
      assert(net.columns.toSeq == per.columns.toSeq, s"schemas differ (ops=$ops)")
      assert(multiset(net) == multiset(per), s"replicas diverged (ops=$ops)")
    }
  }

  private val initialRows: Seq[(Option[Long], Double)] =
    (0L until 8L).map(k => (Some(k), k * 10.0)) ++
      Seq((Some(3L), 33.0), (None, -1.0)) // a duplicate key and a NULL key

  private def runChain(ops: Seq[Op]): Unit = {
    val c = new Chain(initialRows)
    ops.foreach(c.apply)
    c.assertConverged(ops)
  }

  private val genKey: Gen[Long] = Gen.choose(0L, 11L)
  private val genOptKey: Gen[Option[Long]] =
    Gen.frequency(1 -> Gen.const(None), 6 -> genKey.map(Some(_)))
  private val genValue: Gen[Double] = Gen.choose(0, 99).map(_ + 0.5)
  private def distinctKeys[K](g: Gen[K]): Gen[List[K]] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, g)).map(_.distinct)

  private val genOp: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.zip(genOptKey, genValue))).map(Append(_)),
    2 -> Gen.choose(0, 2).map(CowDelete(_)),
    2 -> Gen.zip(Gen.choose(0, 2), genValue).map { case (r, v) => CowUpdate(r, v) },
    2 -> Gen.zip(distinctKeys(genKey), genValue).map { case (k, v) => CowMerge(k, v) },
    2 -> Gen.zip(distinctKeys(genOptKey), genValue).map { case (k, v) => MorUpsert(k, v) },
    2 -> distinctKeys(genOptKey).map(EqDelete(_)),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Materialize),
    1 -> Gen.const(RenameValue))

  test("collapsed sync equals per-commit replay on seeded chains") {
    val genChain = Gen.choose(3, 6).flatMap(n => Gen.listOfN(n, genOp))
    check("sync", Prop.forAll(genChain) { ops => runChain(ops); true },
      trials = 6, seed = 20261017L)
  }

  test("collapsed sync: append with duplicate keys, then CoW delete/update/merge") {
    runChain(Seq(
      Append(List((Some(20L), 1.5), (Some(20L), 2.5), (Some(21L), 3.5))),
      CowUpdate(2, 7.5), // hits key 20 (both copies) and the initial 2, 5
      CowDelete(0),
      CowMerge(List(20L, 1L, 30L), 9.5)))
  }

  test("collapsed sync: MOR upsert and equality delete") {
    runChain(Seq(
      MorUpsert(List(Some(1L), Some(3L), Some(40L)), 4.5),
      EqDelete(List(Some(2L), Some(40L))),
      MorUpsert(List(Some(2L)), 8.5)))
  }

  test("collapsed sync: a key updated then deleted in a later commit") {
    runChain(Seq(
      CowUpdate(1, 11.5), // key 4 updated ...
      Append(List((Some(50L), 0.5))),
      EqDelete(List(Some(4L))), // ... then deleted
      CowMerge(List(7L), 6.5)))
  }

  test("collapsed sync: a key deleted then re-inserted") {
    runChain(Seq(
      CowDelete(2), // keys 2, 5
      Append(List((Some(5L), 55.5), (Some(5L), 56.5))),
      EqDelete(List(Some(6L))),
      MorUpsert(List(Some(6L)), 66.5)))
  }

  test("collapsed sync: NULL keys through append, upsert and equality delete") {
    runChain(Seq(
      Append(List((None, 1.5), (None, 2.5))),
      MorUpsert(List(None, Some(1L)), 3.5),
      EqDelete(List(None)),
      Append(List((None, 4.5)))))
  }

  test("collapsed sync: compaction and rewrite-deletes mid-chain") {
    runChain(Seq(
      MorUpsert(List(Some(1L), Some(9L)), 1.5),
      Materialize,
      Compact,
      EqDelete(List(Some(9L))),
      Compact,
      CowUpdate(0, 2.5)))
  }

  test("collapsed sync: a value rename and a key rename mid-chain") {
    runChain(Seq(
      CowUpdate(0, 3.5),
      RenameValue,
      Append(List((Some(60L), 1.5))),
      MorUpsert(List(Some(60L), Some(4L)), 2.5)))
    // the key rename is evolved onto the replica before any row lands
    val c = new Chain(initialRows)
    val ops = Seq(Append(List((Some(70L), 1.5))), CowDelete(1))
    ops.foreach(c.apply)
    c.renameKey("id")
    val after = Seq(CowUpdate(2, 4.5), Append(List((Some(71L), 2.5), (None, 3.5))))
    after.foreach(c.apply)
    c.assertConverged(ops ++ after)
    val rep = GraftTable.load(spark, c.collapsedLoc)
    assert(rep.meta.properties(TableReplicator.KeyColsProp) == "id")
  }

  test("changelog and sync across a key rename after an equality-delete commit") {
    // the MOR commits' delete files name the key `k`; the range is read
    // after the key became `id`
    val c = new Chain(initialRows)
    val start = c.source.meta.currentSnapshotId.get
    val perCommit = Seq.newBuilder[String]
    def step(op: Op): Unit = {
      val before = c.source.meta.currentSnapshotId.get
      c.apply(op)
      perCommit ++= multiset(c.source.changesBetween(before,
        c.source.meta.currentSnapshotId.get))
    }
    val ops = Seq(MorUpsert(List(Some(1L), Some(40L)), 4.5),
      EqDelete(List(Some(2L), Some(40L))))
    ops.foreach(step)
    c.renameKey("id") // materializes first: a rewrite-deletes commit, no rows
    val after = Append(List((Some(41L), 5.5)))
    step(after)
    val head = c.source.meta.currentSnapshotId.get
    assert(multiset(c.source.changesBetween(start, head)) == perCommit.result().sorted)
    c.assertConverged(ops :+ after)
  }

  test("a maintenance-only chain advances the cursor without a data commit") {
    val c = new Chain(initialRows)
    c.apply(Compact)
    val rep0 = GraftTable.load(spark, c.collapsedLoc).meta
    assert(TableReplicator.sync(spark, c.collapsedLoc) == 1)
    val rep = GraftTable.load(spark, c.collapsedLoc).meta
    assert(rep.snapshots.size == rep0.snapshots.size)
    assert(rep.properties(TableReplicator.SrcSnapProp).toLong ==
      c.source.meta.currentSnapshotId.get)
  }
}
