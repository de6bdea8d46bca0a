package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The concurrent-writer commit protocol (r6): CAS on the metadata
  * version file + bounded rebase-retry for appends — the behavior the
  * reference's engines get from a catalog's compare-and-swap
  * (Iceberg `commit.retry.num-retries`).
  */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_cc").toString + "/t"
  private def conf = spark.sparkContext.hadoopConfiguration

  test("casPublish: exactly one writer wins a version, content is the winner's") {
    val dir = Files.createTempDirectory("graft_cas").toString
    val p = s"$dir/v2.metadata.json"
    assert(MetaIO.casPublish(conf, p, "winner"))
    assert(!MetaIO.casPublish(conf, p, "loser"))
    assert(MetaIO.readString(conf, p) == "winner")
    // no temp litter
    val left = new java.io.File(dir).listFiles().map(_.getName).filter(_.contains(".tmp-"))
    assert(left.isEmpty, s"temp files left behind: ${left.toSeq}")
  }

  test("readers probe past a stale version hint (crash between publish and hint)") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val m = t.meta
    // simulate a writer that CAS-published v2 but died before the hint write
    assert(MetaIO.casPublish(conf, MetaIO.metadataPath(loc, m.version + 1),
      MetaIO.metaToJson(m.copy(version = m.version + 1))))
    assert(MetaIO.readString(conf, MetaIO.versionHintPath(loc)).trim.toInt == m.version)
    assert(MetaIO.currentVersion(conf, loc).contains(m.version + 1))
    assert(t.meta.version == m.version + 1)
  }

  test("concurrent appends all land via rebase-retry; history stays linear") {
    val writers = 6
    val t = GraftTable.createAs(spark, tmp(), Seq((0L, "base")).toDF("k", "v"))
    t.setProperties(Map(TableFormat.CommitRetries -> writers.toString))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = (1 to writers).map { i =>
        Future {
          // each writer gets its OWN handle, like separate jobs would
          GraftTable.load(spark, t.location).append(Seq((i.toLong, s"w$i")).toDF("k", "v"))
        }
      }
      Await.result(Future.sequence(futs), 180.seconds)
    } finally pool.shutdown()
    val m = t.meta
    // no lost updates: every writer's row is present exactly once
    val rows = t.toDF().as[(Long, String)].collect().toSeq
    assert(rows.size == 1 + writers, s"got ${rows.size} rows: $rows")
    assert(rows.map(_._1).sorted == (0L to writers.toLong))
    // one commit per writer (+ property change), all on one linear ancestry
    assert(m.snapshots.count(_.operation == "append") == 1 + writers)
    assert(m.currentAncestors.size == m.snapshots.size)
    // every snapshot's files carry the seq of the commit that added them
    val head = t.currentFiles()
    assert(head.map(_.seq).distinct.size == 1 + writers)
  }

  test("mid-flight non-conflicting append: loser rebases and retries once") {
    val loc = tmp()
    GraftTable.createAs(spark, loc, Seq((0L, "base")).toDF("k", "v"))
    val t1 = GraftTable.load(spark, loc)
    var attempts = 0
    t1.appendWithRetry(Seq((1L, "mine")).toDF("k", "v"), onAttempt = { a =>
      attempts = a + 1
      if (a == 0) // another writer wins the version while we're in flight
        GraftTable.load(spark, loc).append(Seq((2L, "theirs")).toDF("k", "v"))
    })
    assert(attempts == 2, s"expected one rebase retry, saw $attempts attempt(s)")
    val rows = GraftTable.load(spark, loc).toDF().as[(Long, String)].collect().toSet
    assert(rows == Set((0L, "base"), (1L, "mine"), (2L, "theirs")))
  }

  test("racing appends both fold ANALYZE sketches; NDV stays exact (r8)") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.analyze(Seq("k"))
    assert(t.columnNdv("k").contains(100L))
    val t1 = GraftTable.load(spark, loc)
    // another writer appends (and folds) while our append is in flight:
    // the loser must re-merge its sketches against the WINNER's stats file
    t1.appendWithRetry((101L to 150L).map(i => (i, s"v$i")).toDF("k", "v"),
      onAttempt = { a =>
        if (a == 0)
          GraftTable.load(spark, loc)
            .append((201L to 260L).map(i => (i, s"v$i")).toDF("k", "v"))
      })
    val fresh = GraftTable.load(spark, loc)
    assert(fresh.toDF().count() == 210)
    assert(fresh.columnNdv("k").contains(210L),
      s"both folds must survive the race, got ${fresh.columnNdv("k")}")
  }

  test("racing appends both fold partition stats; counters stay manifest-exact (r9)") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc,
      (1L to 100L).map(i => (i, s"p${i % 3}")).toDF("k", "p"),
      Seq(PartitionField("p", "identity", "part")))
    t.computePartitionStats()
    val t1 = GraftTable.load(spark, loc)
    // another writer appends (and folds) while our append is in flight:
    // the loser must re-merge its per-partition totals against the
    // WINNER's payload, not its own stale base
    t1.appendWithRetry((101L to 150L).map(i => (i, s"p${i % 3}")).toDF("k", "p"),
      onAttempt = { a =>
        if (a == 0)
          GraftTable.load(spark, loc)
            .append((201L to 260L).map(i => (i, s"p${i % 3}")).toDF("k", "p"))
      })
    val fresh = GraftTable.load(spark, loc)
    val pp = fresh.partitionStats
    assert(pp.nonEmpty, "payload must stay live through the race")
    val live = fresh.currentFiles().groupBy(f =>
        f.partitionValues.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/"))
      .map { case (p, fs) => (p, fs.size.toLong, fs.map(_.recordCount).sum) }
      .toSeq.sortBy(_._1)
    assert(pp.get.entries.map(e => (e.partition, e.dataFileCount, e.dataRecordCount))
      == live, s"both folds must survive the race, got ${pp.get.entries}")
    assert(pp.get.entries.map(_.dataRecordCount).sum == 210L)
  }

  test("mid-flight COMPACTION: an upsert rebases onto the row-preserving winner") {
    val loc = tmp()
    GraftTable.createAs(spark, loc,
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v").repartition(4))
    val t1 = GraftTable.load(spark, loc)
    var attempts = 0
    t1.mergeBatchWithRetry(Seq((1L, "upd"), (100L, "new")).toDF("k", "v"),
      None, Seq("k"), onAttempt = { a =>
        attempts = a + 1
        if (a == 0) { GraftTable.load(spark, loc).compact(); () }
      })
    assert(attempts == 2, s"expected one rebase retry, saw $attempts attempt(s)")
    val t = GraftTable.load(spark, loc)
    val byKey = t.toDF().as[(Long, String)].collect().toMap
    assert(byKey.size == 41 && byKey(1L) == "upd" && byKey(100L) == "new")
    // the upsert's equality delete applies across the compacted files
    assert(t.toDF().filter(col("v") === "v1").count() == 0)
  }

  test("mid-flight APPEND refuses an upsert rebase (rows changed under it)") {
    val loc = tmp()
    GraftTable.createAs(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val t1 = GraftTable.load(spark, loc)
    intercept[java.util.ConcurrentModificationException] {
      t1.mergeBatchWithRetry(Seq((1L, "upd")).toDF("k", "v"), None, Seq("k"),
        onAttempt = { a =>
          if (a == 0) {
            GraftTable.load(spark, loc).append(Seq((2L, "b")).toDF("k", "v")); ()
          }
        })
    }
  }

  test("mid-flight CONFLICTING commit (schema change) is refused, not rebased") {
    val loc = tmp()
    GraftTable.createAs(spark, loc, Seq((0L, "base")).toDF("k", "v"))
    val t1 = GraftTable.load(spark, loc)
    intercept[java.util.ConcurrentModificationException] {
      t1.appendWithRetry(Seq((1L, "mine")).toDF("k", "v"), onAttempt = { a =>
        if (a == 0) GraftTable.load(spark, loc).addColumn("extra", org.apache.spark.sql.types.StringType)
      })
    }
    // the losing writer's rows never became visible
    assert(!GraftTable.load(spark, loc).toDF().select($"k", $"v")
      .as[(Long, String)].collect().toSet.contains((1L, "mine")))
  }

  test("mid-flight predicate delete is conflicting for an append (would capture new rows)") {
    val loc = tmp()
    GraftTable.createAs(spark, loc, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val t1 = GraftTable.load(spark, loc)
    intercept[java.util.ConcurrentModificationException] {
      t1.appendWithRetry(Seq((2L, "b2")).toDF("k", "v"), onAttempt = { a =>
        if (a == 0) GraftTable.load(spark, loc).deleteMergeOnRead("v = 'b'")
      })
    }
  }

  test("mid-flight schema change refuses an upsert rebase too") {
    val loc = tmp()
    GraftTable.createAs(spark, loc, Seq((0L, "base")).toDF("k", "v"))
    val t1 = GraftTable.load(spark, loc)
    intercept[java.util.ConcurrentModificationException] {
      t1.mergeBatchWithRetry(Seq((1L, "mine")).toDF("k", "v"), None, Seq("k"),
        onAttempt = { a =>
          if (a == 0) GraftTable.load(spark, loc).addColumn("extra", org.apache.spark.sql.types.StringType)
        })
    }
    assert(!GraftTable.load(spark, loc).toDF().select($"k", $"v")
      .as[(Long, String)].collect().toSet.contains((1L, "mine")))
  }

  test("mid-flight predicate delete refuses an upsert rebase too") {
    val loc = tmp()
    GraftTable.createAs(spark, loc, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val t1 = GraftTable.load(spark, loc)
    intercept[java.util.ConcurrentModificationException] {
      t1.mergeBatchWithRetry(Seq((2L, "b2")).toDF("k", "v"), None, Seq("k"),
        onAttempt = { a =>
          if (a == 0) GraftTable.load(spark, loc).deleteMergeOnRead("v = 'b'")
        })
    }
  }

  for ((op, commit) <- Seq[(String, (GraftTable, Int => Unit) => GraftTable)](
      "append" -> ((t, onAttempt) =>
        t.appendWithRetry(Seq((100L, "mine")).toDF("k", "v"), onAttempt)),
      "upsert" -> ((t, onAttempt) =>
        t.mergeBatchWithRetry(Seq((100L, "mine")).toDF("k", "v"), None, Seq("k"),
          onAttempt = onAttempt))))
    test(s"a spent retry budget refuses an $op rebase over a row-preserving commit") {
      val loc = tmp()
      GraftTable.createAs(spark, loc,
        (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v").repartition(4))
        .setProperties(Map(TableFormat.CommitRetries -> "0"))
      var attempts = 0
      intercept[java.util.ConcurrentModificationException] {
        commit(GraftTable.load(spark, loc), { a =>
          attempts = a + 1
          if (a == 0) { GraftTable.load(spark, loc).compact(); () }
        })
      }
      assert(attempts == 1, s"no retry may run on a zero budget, saw $attempts attempt(s)")
      val t = GraftTable.load(spark, loc)
      assert(t.meta.snapshots.last.operation == "replace", "the compaction must have landed")
      val keys = t.toDF().select($"k").as[Long].collect()
      assert(keys.length == 40 && !keys.contains(100L))
    }

  private val aqeWriteConfs = Seq(
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize")

  test("target-size writes never change the session's AQE confs, even mid-write") {
    val target = "4096"
    val t = GraftTable.createAs(spark, tmp(),
      (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.setProperties(Map(TableFormat.TargetFileSize -> target))
    val tableValues = Map(aqeWriteConfs(0) -> target, aqeWriteConfs(1) -> "false",
      aqeWriteConfs(2) -> target)
    def read(): Map[String, Option[String]] =
      aqeWriteConfs.map(k => k -> spark.conf.getOption(k)).toMap
    val before = read()
    assert(tableValues.forall { case (k, v) => !before(k).contains(v) },
      s"the session must not carry the table's values to begin with: $before")
    // a second thread samples the session's confs about every millisecond
    // while an append and a merge write to the table
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Option[String]]]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sampler = new Thread(() =>
      while (!stop.get) { samples.add(read()); Thread.sleep(1) })
    sampler.start()
    try {
      t.append((401L to 800L).map(i => (i, s"v$i")).toDF("k", "v"))
      t.mergeBatch((1L to 50L).map(i => (i, s"u$i")).toDF("k", "v"),
        Some((51L to 60L).map(i => Tuple1(i)).toDF("k")), Seq("k"))
    } finally {
      stop.set(true)
      sampler.join()
    }
    import scala.jdk.CollectionConverters._
    val leaked = samples.asScala.toSeq.filter(s =>
      tableValues.exists { case (k, v) => s(k).contains(v) })
    assert(samples.size > 10, s"the sampler took only ${samples.size} samples")
    assert(leaked.isEmpty,
      s"${leaked.size} of ${samples.size} samples saw the table's confs: ${leaked.take(1)}")
    assert(read() == before)
    val rows = t.toDF().as[(Long, String)].collect().toMap
    assert(rows.size == 790 && rows(1L) == "u1" && !rows.contains(55L))
  }

  test("a session writing INT96 timestamps keeps it; its table files still get footer min/max") {
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val other = spark.newSession()
    other.conf.set(tsKey, "INT96")
    def batch(from: Long): org.apache.spark.sql.DataFrame = other.createDataFrame(
      (from until from + 20L).map(i => (i, new java.sql.Timestamp(1700000000000L + i * 60000L))))
      .toDF("k", "ts")
    val t = GraftTable.createAs(other, tmp(), batch(0L))
    val seeded = t.currentFiles().map(_.path).toSet
    t.append(batch(20L))
    assert(other.conf.get(tsKey) == "INT96")
    val appended = t.currentFiles().filterNot(f => seeded.contains(f.path))
    assert(appended.nonEmpty)
    appended.foreach { f =>
      val ts = f.stats.get("ts")
      assert(ts.exists(s => s.min.isDefined && s.max.isDefined),
        s"${f.path} has no timestamp bounds: $ts")
    }
    assert(t.toDF().count() == 40)
  }
}
