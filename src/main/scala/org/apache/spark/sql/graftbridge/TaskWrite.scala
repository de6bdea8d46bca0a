package org.apache.spark.sql.graftbridge

import java.util.{Date, UUID}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobContext, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec, SparkHadoopWriterUtils}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, FileSourceMetadataAttribute, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormatWriter, V1WritesUtils, WriteJobDescription}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable

/** Parquet writes whose tasks commit their own files and report them.
  *
  * One Spark action per write: each task runs Spark's
  * `FileFormatWriter.executeTask` over a [[TaskWrite.DirectCommit]]
  * protocol, so files are created at their final names (no `_temporary`
  * directory, no renames, no `_SUCCESS` marker, no job-level commit), and
  * once a file is closed the task turns it into an entry with the
  * caller's `entry` function (footer stats, size, row count). The driver
  * never lists the output. The write's `WriteJobDescription` (which holds
  * the Hadoop configuration) ships once per executor by broadcast instead
  * of inside every task, and the broadcast is destroyed when the write
  * returns. The table's commit is the only commit that matters: a file
  * no commit names is an orphan, and an aborted task deletes its own.
  *
  * A write can carry a second output, the equality-delete KEY files of a
  * merge. Then every row goes to the data files, the key files or both,
  * by the boolean [[RouteCol]] (true: data and key; false: key only;
  * absent: both), and a long [[TallyCol]], when present, is summed over
  * all rows. Neither column is written. Key rows are collected per task,
  * distinct within the task when asked (the caller co-locates equal keys
  * in one task), and written after the task's data files.
  */
object TaskWrite {
  val RouteCol = "__gp_route"
  val TallyCol = "__gp_tally"

  /** The key output of a merge: `cols` are the frame's key columns,
    * `fields` how each is written (name and field metadata; its type is
    * the column's).
    */
  final case class KeyOutput[E](dir: String, cols: Seq[String], fields: Seq[StructField],
      distinct: Boolean, entry: (Configuration, String) => E)

  /** What a write's tasks reported. `duplicateKeys` counts data rows
    * whose key an earlier data row of the same task had (tracked only for
    * a distinct key output).
    */
  final case class Result[E](data: Seq[E], keys: Seq[E], dataRows: Long,
      keyRows: Long, duplicateKeys: Long, tally: Long)

  /** Write `df` as parquet under `dir` (qualified first), partitioned by
    * `partitionCols` (Hive-style directories; the rows must arrive
    * clustered by them within each task), with `options` applied to the
    * Hadoop configuration like `DataFrameWriter` options; each closed file
    * becomes `entry(conf, path)` on its task, `path` qualified.
    */
  def write[E](df: DataFrame, dir: String, partitionCols: Seq[String],
      options: Map[String, String], entry: (Configuration, String) => E,
      keys: Option[KeyOutput[E]] = None): Result[E] = {
    val session = df.sparkSession.asInstanceOf[ClassicSession]
    val analyzed = Bridge.analyzed(df)
    // Hive partition directories cannot name an empty string: write it as
    // the default partition, as DataFrameWriter does
    val partAttrs = partitionCols.map(c => analyzed.output.find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(s"no partition column $c")))
    val emptyToNull = V1WritesUtils.convertEmptyToNull(analyzed.output, partAttrs)
    val ds = if (emptyToNull.isEmpty) df else Bridge.ofRows(session, Project(emptyToNull, analyzed))
    val qe = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val input = qe.executedPlan.output
    val output = input.map(FileSourceMetadataAttribute.cleanupFileSourceMetadataInformation)
    def ordinal(name: String): Int = input.indexWhere(_.name == name)
    val dataCols = output.filterNot(a => a.name == RouteCol || a.name == TallyCol)
    val dataPart = partitionCols.map(c => dataCols.find(_.name == c).get)
    val dataDesc = describe(session, dir, dataCols, dataPart, options)
    val keyDesc = keys.map { k =>
      val attrs = k.cols.map(c => output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no key column $c")))
      describe(session, k.dir, DataTypeUtils.toAttributes(StructType(
        attrs.zip(k.fields).map { case (a, f) => f.copy(dataType = a.dataType, nullable = true) })),
        Nil, Map.empty)
    }
    val plan = new TaskPlan[E](
      input = input,
      dataCols = if (dataCols.size == input.size) None else Some(dataCols),
      route = Some(ordinal(RouteCol)).filter(_ >= 0),
      tally = Some(ordinal(TallyCol)).filter(_ >= 0),
      keyCols = keys.map(_.cols.map(c => input(ordinal(c)))),
      distinctKeys = keys.exists(_.distinct),
      dataEntry = entry,
      keyEntry = keys.map(_.entry),
      jobTrackerId = SparkHadoopWriterUtils.createJobTrackerID(new Date()))
    SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      val sc = session.sparkContext
      val rdd0 = qe.executedPlan.execute()
      // a write of no partitions still runs one task, so an empty write
      // leaves its one (empty) file as DataFrameWriter does
      val rdd = if (rdd0.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rdd0
      val descs = sc.broadcast((dataDesc, keyDesc))
      val results = new Array[TaskResult[E]](rdd.partitions.length)
      try {
        sc.runJob(rdd, (ctx: TaskContext, rows: Iterator[InternalRow]) =>
            plan.run(descs.value._1, descs.value._2, ctx, rows),
          rdd.partitions.indices, (i: Int, r: TaskResult[E]) => results(i) = r)
      } catch {
        case e: Throwable =>
          // files of tasks that committed before the job failed
          val conf = dataDesc.serializableHadoopConf.value
          results.filter(_ != null).flatMap(_.paths).foreach { p =>
            val path = new Path(p)
            scala.util.Try(path.getFileSystem(conf).delete(path, false))
          }
          throw e
      } finally descs.destroy()
      Result(results.toSeq.flatMap(_.data), results.toSeq.flatMap(_.keys),
        results.map(_.dataRows).sum, results.map(_.keyRows).sum,
        results.map(_.duplicateKeys).sum, results.map(_.tally).sum)
    }
  }

  /** The job description `FileFormatWriter.write` would build for a
    * parquet write of `all` under `dir`.
    */
  private def describe(session: ClassicSession, dir: String, all: Seq[Attribute],
      part: Seq[Attribute], options: Map[String, String]): WriteJobDescription = {
    val job = Job.getInstance(session.sessionState.newHadoopConfWithOptions(options))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val path = new Path(dir)
    val qualified = path.getFileSystem(job.getConfiguration).makeQualified(path)
    FileOutputFormat.setOutputPath(job, qualified)
    val partSet = AttributeSet(part)
    val dataCols = all.filterNot(partSet.contains)
    val format = new ParquetFileFormat
    val dataSchema = DataTypeUtils.fromAttributes(dataCols)
    DataSourceUtils.verifySchema(format, dataSchema)
    val factory = format.prepareWrite(session, job, options, dataSchema)
    val uuid = UUID.randomUUID().toString
    job.getConfiguration.set("spark.sql.sources.writeJobUUID", uuid)
    val conf = session.sessionState.conf
    new WriteJobDescription(uuid, new SerializableConfiguration(job.getConfiguration),
      factory, all, dataCols, part, None, qualified.toString, Map.empty,
      conf.maxRecordsPerFile, conf.sessionLocalTimeZone, Nil)
  }

  private final class TaskResult[E](val data: Seq[E], val keys: Seq[E],
      val paths: Seq[String], val dataRows: Long, val keyRows: Long,
      val duplicateKeys: Long, val tally: Long) extends Serializable

  /** What each task runs: route, write, report. */
  private final class TaskPlan[E](input: Seq[Attribute], dataCols: Option[Seq[Attribute]],
      route: Option[Int], tally: Option[Int], keyCols: Option[Seq[Attribute]],
      distinctKeys: Boolean, dataEntry: (Configuration, String) => E,
      keyEntry: Option[(Configuration, String) => E], jobTrackerId: String)
      extends Serializable {

    def run(dataDesc: WriteJobDescription, keyDesc: Option[WriteJobDescription],
        ctx: TaskContext, rows: Iterator[InternalRow]): TaskResult[E] = {
      val project = dataCols.map(cs => UnsafeProjection.create(cs, input))
      val keyOf = keyCols.map(cs => UnsafeProjection.create(cs, input))
      // key -> whether a data row carried it (insertion order kept)
      val seen = mutable.LinkedHashMap.empty[UnsafeRow, Boolean]
      val keyRows = mutable.ArrayBuffer.empty[InternalRow]
      var dataRows = 0L
      var dups = 0L
      var tallied = 0L
      val toData = new Iterator[InternalRow] {
        private var pending: InternalRow = null
        def hasNext: Boolean = {
          while (pending == null && rows.hasNext) {
            val r = rows.next()
            tally.foreach(i => if (!r.isNullAt(i)) tallied += r.getLong(i))
            val isData = route.forall(i => r.getBoolean(i))
            keyOf.foreach { proj =>
              val k = proj(r)
              if (!distinctKeys) keyRows += k.copy()
              else seen.get(k) match {
                case None => seen.put(k.copy(), isData)
                case Some(hadData) =>
                  if (isData && hadData) dups += 1
                  else if (isData) seen.put(k.copy(), true)
              }
            }
            if (isData) { dataRows += 1; pending = project.fold(r)(_(r)) }
          }
          pending != null
        }
        def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = pending
          pending = null
          r
        }
      }
      val attempt = (ctx.taskAttemptId() & Int.MaxValue).toInt
      def commitTo(desc: WriteJobDescription, it: Iterator[InternalRow]): Seq[String] = {
        val committer = new DirectCommit(desc.path, desc.uuid)
        FileFormatWriter.executeTask(desc, jobTrackerId, ctx.stageId(), ctx.partitionId(),
          attempt, committer, it, None)
        committer.files
      }
      val dataFiles = commitTo(dataDesc, toData)
      val keyIt = if (distinctKeys) seen.keysIterator else keyRows.iterator
      val nKeys = if (distinctKeys) seen.size.toLong else keyRows.size.toLong
      val keyFiles = keyDesc.map(commitTo(_, keyIt)).getOrElse(Nil)
      def entries(desc: WriteJobDescription, fs: Seq[String],
          f: (Configuration, String) => E): Seq[E] = {
        val conf = desc.serializableHadoopConf.value
        fs.map(f(conf, _))
      }
      new TaskResult(entries(dataDesc, dataFiles, dataEntry),
        keyDesc.map(d => entries(d, keyFiles, keyEntry.get)).getOrElse(Nil),
        dataFiles ++ keyFiles, dataRows, if (keyDesc.isDefined) nKeys else 0L, dups, tallied)
    }
  }

  /** The commit protocol of a task-committed write: each file is created
    * at its final name under `root`, unique per task attempt, and an
    * aborted task deletes the files it opened. Job setup and commit do
    * nothing; the caller's table commit publishes the files.
    */
  private final class DirectCommit(root: String, jobUuid: String) extends FileCommitProtocol {
    private val written = mutable.ArrayBuffer.empty[String]
    def files: Seq[String] = written.toSeq

    override def setupJob(job: JobContext): Unit = ()
    override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit = ()
    override def abortJob(job: JobContext): Unit = ()
    override def setupTask(task: TaskAttemptContext): Unit = ()

    override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
        ext: String): String = newTaskTempFile(task, dir, FileNameSpec("", ext))

    override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
        spec: FileNameSpec): String = {
      val id = task.getTaskAttemptID
      val name = f"${spec.prefix}part-${id.getTaskID.getId}%05d-$jobUuid-${id.getId}${spec.suffix}"
      val p = dir.fold(new Path(root, name))(d => new Path(new Path(root, d), name)).toString
      written += p
      p
    }

    override def newTaskTempFileAbsPath(task: TaskAttemptContext, absoluteDir: String,
        ext: String): String =
      throw new UnsupportedOperationException("custom partition locations")

    override def commitTask(task: TaskAttemptContext): TaskCommitMessage =
      new TaskCommitMessage(written.toList)

    override def abortTask(task: TaskAttemptContext): Unit =
      written.foreach { p =>
        val path = new Path(p)
        scala.util.Try(path.getFileSystem(task.getConfiguration).delete(path, false))
      }
  }
}
