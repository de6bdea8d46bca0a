package graft.tables

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Per-file column stats from parquet FOOTERS — the row-group min/max and
  * null counts the writer already computed. Reading them is O(files)
  * metadata, replacing the O(data) second scan a stats-aggregation query
  * would cost per commit; values land in the same normalized domain the
  * scan planner compares against (longs for integrals/timestamp-micros/
  * date-days, doubles, ASCII strings, booleans).
  *
  * Conservative by construction: a column's stats are dropped whenever the
  * footer can't be trusted to mirror engine comparison semantics — INT96
  * timestamps (deprecated, unordered stats), non-ASCII binary bounds
  * (parquet orders unsigned bytes, Java compares UTF-16 code units; they
  * agree on ASCII only), NaN float bounds, unset null counts. Dropped
  * stats only ever widen a scan, never corrupt it. Binary max truncation
  * is safe: parquet-mr increments the last byte, keeping an upper bound.
  */
object FooterStats {

  private final class Acc {
    var min: Option[Any] = None
    var max: Option[Any] = None
    var nulls: Long = 0L
    var ok: Boolean = true
  }

  /** ParquetReadOptions built once per Configuration (identity-keyed: the
    * callers all pass the SparkContext's one hadoopConfiguration). The
    * per-open HadoopReadOptions builder re-parses a dozen conf keys
    * (r21 profiling: `HadoopParquetConfiguration.getBoolean` 0.24 s of
    * driver time in t61 alone, spread over per-commit footer reads);
    * options carry no per-file state here (no encryption configured), so
    * one instance serves every footer read.
    */
  private val optionsCache = new java.util.concurrent.ConcurrentHashMap[
    Configuration, org.apache.parquet.ParquetReadOptions]()

  private def readOptions(conf: Configuration): org.apache.parquet.ParquetReadOptions =
    optionsCache.computeIfAbsent(conf, c =>
      org.apache.parquet.HadoopReadOptions.builder(c, new Path("/")).build())

  def read(conf: Configuration, path: String, schema: StructType): (Long, Map[String, ColStats]) = {
    val (rows, _, stats) = readWith(conf, readOptions(conf), path, schema)
    (rows, stats)
  }

  /** [[read]] plus the file's length in bytes, for a file a write task has
    * just closed. The read options are built for this call: a write's own
    * configuration must not enter the shared cache, which would keep it
    * alive for the life of the JVM.
    */
  def readSized(conf: Configuration, path: String,
      schema: StructType): (Long, Long, Map[String, ColStats]) =
    readWith(conf, org.apache.parquet.HadoopReadOptions.builder(conf, new Path(path)).build(),
      path, schema)

  private def readWith(conf: Configuration, options: org.apache.parquet.ParquetReadOptions,
      path: String, schema: StructType): (Long, Long, Map[String, ColStats]) = {
    val wanted: Map[String, DataType] =
      schema.fields.map(f => f.name -> f.dataType).toMap
    val file = HadoopInputFile.fromPath(new Path(path), conf)
    val reader = ParquetFileReader.open(file, options)
    try {
      var rows = 0L
      val accs = mutable.LinkedHashMap[String, Acc]()
      reader.getFooter.getBlocks.forEach { block =>
        rows += block.getRowCount
        block.getColumns.forEach { cc =>
          val parts = cc.getPath.toArray
          if (parts.length == 1 && wanted.contains(parts(0))) {
            val name = parts(0)
            val acc = accs.getOrElseUpdate(name, new Acc)
            if (acc.ok) mergeChunk(acc, cc, wanted(name), block.getRowCount)
          }
        }
      }
      val stats = accs.collect { case (name, a) if a.ok =>
        name -> ColStats(a.min, a.max, a.nulls)
      }.toMap
      (rows, file.getLength, stats)
    } finally reader.close()
  }

  private def mergeChunk(acc: Acc,
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      sparkType: DataType, blockRows: Long): Unit = {
    val st = cc.getStatistics
    if (st == null || !st.isNumNullsSet) { acc.ok = false; return }
    acc.nulls += st.getNumNulls
    if (!st.hasNonNullValue) {
      // all-null chunk: contributes nulls only — but if values exist yet
      // stats were dropped by the writer, distrust the column
      if (st.getNumNulls < blockRows) acc.ok = false
      return
    }
    normalized(cc, st, sparkType) match {
      case Some((lo, hi)) =>
        if (acc.min.forall(m => lt(lo, m))) acc.min = Some(lo)
        if (acc.max.forall(m => lt(m, hi))) acc.max = Some(hi)
      case None => acc.ok = false
    }
  }

  /** Chunk (min, max) mapped into the scan planner's comparison domain. */
  private def normalized(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      st: org.apache.parquet.column.statistics.Statistics[_],
      sparkType: DataType): Option[(Any, Any)] = {
    val prim = cc.getPrimitiveType
    def longs2(fMin: Long => Long, fMax: Long => Long): Option[(Any, Any)] =
      (st.genericGetMin, st.genericGetMax) match {
        case (a: Number, b: Number) => Some((fMin(a.longValue()), fMax(b.longValue())))
        case _ => None
      }
    def longs(f: Long => Long): Option[(Any, Any)] = longs2(f, f)
    sparkType match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => longs(identity)
      case _: DateType => longs(identity) // INT32 epoch days
      case _: TimestampType | _: TimestampNTZType =>
        if (prim.getPrimitiveTypeName != PrimitiveTypeName.INT64) None
        else prim.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit match {
            case TimeUnit.MICROS => longs(identity)
            case TimeUnit.MILLIS => longs(_ * 1000L)
            // bounds must stay bounds under truncation: floor the min,
            // ceil the max (1500ns rounds to [1, 2]us, not [1, 1])
            case TimeUnit.NANOS =>
              longs2(Math.floorDiv(_, 1000L), n => -Math.floorDiv(-n, 1000L))
            case _ => None
          }
          case _ => None
        }
      case d: DecimalType =>
        // INT32/INT64-backed decimals: unscaled / 10^scale in double (the
        // scan planner compares decimal literals as doubles); binary-backed
        // decimals are skipped
        prim.getPrimitiveTypeName match {
          case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
            (st.genericGetMin, st.genericGetMax) match {
              case (a: Number, b: Number) =>
                val scale = math.pow(10, d.scale)
                Some((a.longValue() / scale, b.longValue() / scale))
              case _ => None
            }
          case _ => None
        }
      case _: FloatType | _: DoubleType => (st.genericGetMin, st.genericGetMax) match {
        case (a: Number, b: Number) =>
          val (lo, hi) = (a.doubleValue(), b.doubleValue())
          if (lo.isNaN || hi.isNaN) None else Some((lo, hi))
        case _ => None
      }
      case _: StringType => (st.genericGetMin, st.genericGetMax) match {
        case (a: org.apache.parquet.io.api.Binary, b: org.apache.parquet.io.api.Binary) =>
          val (lo, hi) = (a.toStringUsingUTF8, b.toStringUsingUTF8)
          if (isAscii(lo) && isAscii(hi)) Some((lo, hi)) else None
        case _ => None
      }
      case _: BooleanType => (st.genericGetMin, st.genericGetMax) match {
        case (a: java.lang.Boolean, b: java.lang.Boolean) =>
          Some((a.booleanValue(), b.booleanValue()))
        case _ => None
      }
      case _ => None
    }
  }

  private def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) >= 128) return false; i += 1 }
    true
  }

  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long)       => x < y
    case (x: Double, y: Double)   => x < y
    case (x: String, y: String)   => x < y
    case (x: Boolean, y: Boolean) => !x && y
    case _ => false
  }
}
