package graft.tables

import graft.SparkSpec
import graft.sources.{GraftSql, Tables}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** graft's own writes commit their files from the write tasks and take
  * each file's manifest entry from the task that wrote it. These specs
  * hold the entries to what a driver-side listing with footer reads
  * ([[GraftTable.collectFileEntries]]) builds over the same files, for
  * every layout a write can take, and check that no write leaves commit
  * debris behind.
  */
class TaskWriteSpec extends SparkSpec {
  private def tmp(): String = Files.createTempDirectory("graft_tw").toString + "/t"

  private def orders(n: Int): DataFrame =
    Tables.orders(spark, sf).orderBy(col("o_orderkey")).limit(n)

  private def shifted(n: Int, by: Long): DataFrame =
    orders(n).withColumn("o_orderkey", col("o_orderkey") + by)

  /** Files `op` added to the current snapshot. */
  private def added(t: GraftTable)(op: => Any): Seq[DataFile] = {
    val before = t.currentFiles().map(_.path).toSet
    op
    t.currentFiles().filterNot(f => before.contains(f.path))
  }

  /** `written`'s task-reported entries equal the listing's over the commit
    * dirs that hold them: same paths, sizes, rows, stats and partition
    * values.
    */
  private def assertListedEntries(t: GraftTable, written: Seq[DataFile]): Unit = {
    assert(written.nonEmpty)
    val dataDir = s"${new Path(t.location).toUri.getPath}/data/"
    val dirs = written.map { f =>
      assert(f.path.startsWith(dataDir), s"${f.path} is not under $dataDir")
      dataDir + f.path.stripPrefix(dataDir).takeWhile(_ != '/')
    }.distinct
    val m = t.meta
    val listed = dirs.flatMap(d => t.collectFileEntries(d, m, m.currentSpecId))
    assert(written.map(_.copy(seq = 0L)).sortBy(_.path) == listed.sortBy(_.path))
  }

  /** Every file under `dir`, relative. */
  private def filesUnder(dir: String): Seq[String] = {
    val root = new File(dir).toPath
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSeq
  }

  test("partitioned writes report listed entries, one file per task per partition value") {
    val t = GraftTable.createAs(spark, tmp(), orders(50),
      partitionFields = Seq(PartitionField("o_orderstatus", "identity", "o_orderstatus")))
    // rows of every partition value interleaved in two tasks, kept there
    t.setProperties(Map("write.distribution-mode" -> "none"))
    val written = added(t)(t.append(shifted(300, 1000000L).repartition(2)))
    assertListedEntries(t, written)
    assert(written.map(_.partitionValues("o_orderstatus")).toSet.size > 1)
    // part-<task>-… : at most one file for each (task, partition value)
    val perTaskValue = written.groupBy(f =>
      (new Path(f.path).getName.take(10), f.partitionValues))
    assert(perTaskValue.values.forall(_.size == 1), perTaskValue.keys.toString)
    assert(t.toDF().count() == 350)
  }

  test("sorted, bloom-filtered and target-size writes report listed entries") {
    val t = GraftTable.createAs(spark, tmp(), orders(10))
    t.setSortOrder(Seq("o_orderkey"))
    t.setProperties(Map(TableFormat.BloomColumns -> "o_orderkey",
      TableFormat.TargetFileSize -> "16384"))
    val written = added(t)(t.append(shifted(2000, 1000000L).repartition(4)))
    assert(written.size > 1, "the target size must split the write")
    assertListedEntries(t, written)
    // the write options reach the parquet writer
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(written.head.path), conf))
    try {
      val chunk = reader.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "o_orderkey").get
      assert(chunk.getBloomFilterOffset > 0, "no bloom filter on o_orderkey")
    } finally reader.close()
    // the upsert's data files and delete keys come from its one action
    val upserted = added(t)(t.upsertMergeOnRead(
      shifted(500, 1000000L).withColumn("o_totalprice", lit(1.5)), Seq("o_orderkey")))
    assertListedEntries(t, upserted)
    assert(t.toDF().filter(col("o_totalprice") === 1.5).count() == 500)
  }

  test("default-filled and row-lineage rider writes report listed entries") {
    val t = GraftTable.createAs(spark, tmp(), orders(100),
      properties = Map(TableFormat.RowLineagePreserve -> "true"))
    t.addColumnWithDefault("tier", StringType, "bronze")
    // the appended frame omits `tier`: every row is written with it
    val filled = added(t)(t.append(shifted(100, 1000000L)))
    assertListedEntries(t, filled)
    assert(t.toDF().filter(col("tier") === "bronze").count() == 200)
    // a lineage-preserving rewrite writes its row-id riders
    val rewritten = added(t)(t.update("o_orderkey % 3 = 0", Map("o_orderpriority" -> "'U'")))
    assertListedEntries(t, rewritten)
    assert(t.toDF().count() == 200)
  }

  test("a relative table location reports absolute paths that copy-on-write DML matches") {
    val rel = s"target/graft_tw_rel_${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      val t = GraftTable.createAs(spark, s"$rel/t", orders(200))
      val files = t.currentFiles()
      val abs = new File(rel).getAbsolutePath
      assert(files.forall(f => f.path.startsWith(abs + "/t/data/")), files.map(_.path).toString)
      // the delete finds its touched files through `_metadata.file_path`
      t.delete("o_orderkey % 2 = 0")
      assert(t.toDF().filter(col("o_orderkey") % 2 === 0).count() == 0)
      assert(t.toDF().count() == orders(200).filter(col("o_orderkey") % 2 =!= 0).count())
      t.update("o_orderkey % 3 = 0", Map("o_orderpriority" -> "'U'"))
      assert(t.toDF().filter(col("o_orderkey") % 3 === 0)
        .filter(col("o_orderpriority") =!= "U").count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(rel))
    }
  }

  test("no write leaves _temporary or _SUCCESS behind, and a failed write leaves no file") {
    val t = GraftTable.createAs(spark, tmp(), orders(300))
    val view = IncrementalAggView.create(spark, tmp(), t, Seq("o_orderstatus"), Seq("o_totalprice"))
    val replica = tmp()
    TableReplicator.create(spark, replica, t, Seq("o_orderkey"))
    t.append(shifted(50, 1000000L))
    t.upsertMergeOnRead(orders(40).withColumn("o_totalprice", lit(2.5)), Seq("o_orderkey"))
    t.mergeBatch(orders(10).withColumn("o_totalprice", lit(3.5)),
      Some(orders(30).select((col("o_orderkey") + 1000000L).as("o_orderkey"))), Seq("o_orderkey"))
    t.deleteMergeOnReadPositions("o_orderkey % 5 = 1")
    t.deleteMergeOnReadDV("o_orderkey % 5 = 2")
    t.deleteMergeOnReadEquality(orders(5).select("o_orderkey"), Seq("o_orderkey"))
    t.deleteMergeOnReadEquality(orders(8).select("o_orderkey"), Seq("o_orderkey"))
    t.compactDeleteFiles()
    view.refresh()
    TableReplicator.sync(spark, replica)
    t.materializeDeletes()
    t.compact()
    val g = new GraftSql(spark, Files.createTempDirectory("graft_tw_sql").toString)
    g.register("o", t.location)
    g.sql("DELETE FROM o WHERE o_orderkey % 7 = 3")
    g.sql("UPDATE o SET o_orderpriority = 'S' WHERE o_orderkey % 7 = 4")
    view.refresh()
    TableReplicator.sync(spark, replica)
    for (loc <- Seq(t.location, view.table.location, replica)) {
      val debris = filesUnder(loc).filter(p => p.contains("_temporary") || p.endsWith("_SUCCESS"))
      assert(debris.isEmpty, s"$loc: $debris")
    }
    assert(GraftTable.load(spark, replica).toDF().count() == t.toDF().count())

    // every file written so far is referenced by some snapshot
    assert(t.removeOrphanFiles(Long.MaxValue).isEmpty)
    // a write whose task fails commits nothing and leaves no data file
    val version = t.meta.version
    val boom = udf((k: Long) => { if (k % 97 == 0) throw new IllegalStateException("boom"); k })
    intercept[Exception](t.append(shifted(300, 2000000L).repartition(3)
      .withColumn("o_orderkey", boom(col("o_orderkey")))))
    assert(t.meta.version == version)
    val stray = t.removeOrphanFiles(Long.MaxValue)
    assert(stray.isEmpty, s"files of the failed write remain: $stray")
  }
}
