package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-level data skipping for vparquet — the capability Delta calls
  * file-level statistics (reference capability: `MLSQLDelta.scala:14-178`
  * delegates it to the Delta log's `stats` column; this is a from-scratch
  * re-design on the vparquet manifest).
  *
  * Why this matters at 100 TB: parquet row-group stats only help AFTER a
  * task has opened the file's footer — on a large table that is still
  * millions of driver→store metadata round-trips and as many scheduled
  * tasks. Skipping at the MANIFEST level prunes files from one cached
  * driver-side JSON read, before any task launches: a selective filter on
  * a sorted/clustered column plans O(matching files) tasks, not O(table).
  *
  * Mechanics:
  *  - at commit time, per-file min/max/nullCount/rowCount are harvested
  *    from the parquet FOOTERS just written (driver-side, metadata-only —
  *    no second pass over the data) and recorded in the manifest;
  *  - at read time, `VParquetFileIndex` (a Spark `FileIndex`) receives the
  *    query's data filters from `FileSourceStrategy` and drops every file
  *    whose recorded range PROVABLY cannot satisfy them. Catalyst still
  *    applies the full filter to the survivors, so pruning is best-effort
  *    and never changes results — a file with no usable stats is kept.
  *
  * Stats are kept only where cross-engine comparison semantics are exact:
  * integral/floating types, DATE (days), INT64 timestamps (normalized to
  * micros), and ASCII-only strings ≤96 chars (ASCII prefix order agrees
  * with both parquet's unsigned-byte order and Java's UTF-16 order, so a
  * comparison against ANY literal resolves identically at the first
  * differing character; non-ASCII or truncated stats are dropped rather
  * than risk a wrong prune). Decimals, INT96, booleans and nested columns
  * carry no stats — those files are always read.
  */
object DataSkipping {

  /** Per-file column statistics. min/max are stored as STRINGS — decimal
    * rendering for numerics (exact; avoids Jackson's numeric-type
    * round-trip surprises), the raw value for ASCII strings. A column
    * absent from the maps has no usable stats in this file.
    */
  case class FileStats(numRecords: Long,
                       minValues: Map[String, String],
                       maxValues: Map[String, String],
                       nullCounts: Map[String, Long])

  /** Jackson materializes the Long values of `nullCounts` as Integers for
    * small numbers (same erasure hazard as Manifest.txn) — normalize, and
    * null-safe the maps for manifests written before a given field existed.
    */
  def normalize(s: FileStats): FileStats = {
    def m(x: Map[String, String]) = if (x == null) Map.empty[String, String] else x
    val nc =
      if (s.nullCounts == null) Map.empty[String, Long]
      else s.nullCounts.asInstanceOf[Map[String, Any]].map {
        case (k, n: java.lang.Number) => k -> n.longValue
      }
    FileStats(s.numRecords, m(s.minValues), m(s.maxValues), nc)
  }

  private val MaxStringStat = 96

  private def asciiOk(s: String): Boolean =
    s.length <= MaxStringStat && s.forall(_ < 128)

  /** Harvest stats from one just-written parquet footer. Returns None on
    * any read problem — a file without stats is merely unprunable.
    */
  def fromFooter(conf: Configuration, file: Path): Option[FileStats] = try {
    val md = ParquetFileReader.readFooter(conf, file, ParquetMetadataConverter.NO_FILTER)
    val blocks = md.getBlocks.asScala.toSeq
    val numRecords = blocks.map(_.getRowCount).sum
    val mins = collection.mutable.Map[String, String]()
    val maxs = collection.mutable.Map[String, String]()
    val nulls = collection.mutable.Map[String, Long]()
    // columns that lost min/max usability in ANY row group drop them for
    // the whole file (ranges must cover every row)
    val dead = collection.mutable.Set[String]()
    val nullsDead = collection.mutable.Set[String]()
    for (b <- blocks; c <- b.getColumns.asScala) {
      val pathArr = c.getPath.toArray
      if (pathArr.length == 1) {
        val name = pathArr(0)
        val st = c.getStatistics
        if (st == null) { dead += name; nullsDead += name }
        else {
          if (st.isNumNullsSet) nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
          else nullsDead += name
          val prim = c.getPrimitiveType
          val logical = prim.getLogicalTypeAnnotation
          def isDecimal = logical.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
          // min/max absent: a PROVABLY all-null row group (null_count ==
          // row_count) contributes no range without invalidating the file,
          // but parquet-mr also omits min/max — while keeping null_count —
          // when values blow the 4KB stats cap, and then the file range
          // would not cover those values: drop the column's stats entirely
          if (!st.hasNonNullValue) {
            if (!(st.isNumNullsSet && st.getNumNulls == b.getRowCount))
              dead += name
          } else if (!dead.contains(name)) {
            val range: Option[(String, String)] = prim.getPrimitiveTypeName match {
              case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 if !isDecimal =>
                val (lo, hi) = (st.genericGetMin, st.genericGetMax) match {
                  case (a: java.lang.Number, b: java.lang.Number) => (a.longValue, b.longValue)
                }
                // normalize INT64 timestamps to MICROS (Spark's literal
                // representation); other units scale exactly
                val scale = logical match {
                  case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                    t.getUnit match {
                      case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000L)
                      case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1L)
                      case _ => None // NANOS: micros would round — drop
                    }
                  case _ => Some(1L)
                }
                scale.map(s => ((lo * s).toString, (hi * s).toString))
              case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
                val (lo, hi) = (st.genericGetMin, st.genericGetMax) match {
                  case (a: java.lang.Number, b: java.lang.Number) => (a.doubleValue, b.doubleValue)
                }
                if (lo.isNaN || hi.isNaN) None
                else Some((BigDecimal(lo).toString, BigDecimal(hi).toString))
              case PrimitiveTypeName.BINARY
                if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                val lo = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                val hi = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                if (asciiOk(lo) && asciiOk(hi)) Some((lo, hi)) else None
              case _ => None
            }
            range match {
              case Some((lo, hi)) =>
                mins(name) = mins.get(name).map(m => if (lt(lo, m)) lo else m).getOrElse(lo)
                maxs(name) = maxs.get(name).map(m => if (lt(m, hi)) hi else m).getOrElse(hi)
              case None => dead += name
            }
          }
        }
      }
    }
    dead.foreach { n => mins -= n; maxs -= n }
    nullsDead.foreach(nulls -= _)
    Some(FileStats(numRecords, mins.toMap, maxs.toMap, nulls.toMap))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Order two stored stat strings of the SAME column (both numeric-
    * rendered or both ASCII) without knowing the Spark type: numeric
    * strings compare as BigDecimal, otherwise lexicographically.
    */
  private def lt(a: String, b: String): Boolean =
    (parseNum(a), parseNum(b)) match {
      case (Some(x), Some(y)) => x < y
      case _ => a < b
    }

  private def parseNum(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }

  /** Compare a stored stat string against a Catalyst literal value under
    * the attribute's type. None = not comparable (unknown type / parse
    * problem) → caller must keep the file.
    */
  private def cmp(dt: DataType, stored: String, litVal: Any): Option[Int] = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DateType | _: TimestampType |
         _: TimestampNTZType =>
      val litNum: Option[BigDecimal] = litVal match {
        // widen float through double exactly as the footer harvest does
        // (FloatStatistics surface as doubles there): BigDecimal("0.1") vs
        // BigDecimal(0.1f.toDouble) differ, and an exact-match prune on
        // that difference would wrongly drop a file
        case f: java.lang.Float => Some(BigDecimal(f.doubleValue))
        case n: java.lang.Number => Some(BigDecimal(n.toString))
        case _ => None
      }
      for (s <- parseNum(stored); l <- litNum) yield s.compare(l)
    case _: StringType =>
      val litStr = litVal match {
        case u: UTF8String => u.toString
        case s: String => s
        case _ => null
      }
      if (litStr == null) None else Some(stored.compareTo(litStr) match {
        case 0 => 0 case x if x < 0 => -1 case _ => 1
      })
    case _ => None
  }

  /** Can `file` possibly contain a row satisfying `filter`? False only on
    * PROOF of emptiness from the recorded ranges; every unknown keeps the
    * file. Handles the conjunctive/disjunctive shapes FileSourceStrategy
    * actually emits plus the common leaf comparisons.
    */
  def mayContain(stats: FileStats, filter: Expression): Boolean = {
    def min(a: String) = stats.minValues.get(a)
    def max(a: String) = stats.maxValues.get(a)

    def leaf(a: AttributeReference, op: String, v: Any): Boolean = op match {
      case "=" =>
        val lo = min(a.name).flatMap(cmp(a.dataType, _, v)).forall(_ <= 0)
        val hi = max(a.name).flatMap(cmp(a.dataType, _, v)).forall(_ >= 0)
        lo && hi
      case "<" => min(a.name).flatMap(cmp(a.dataType, _, v)).forall(_ < 0)
      case "<=" => min(a.name).flatMap(cmp(a.dataType, _, v)).forall(_ <= 0)
      case ">" => max(a.name).flatMap(cmp(a.dataType, _, v)).forall(_ > 0)
      case ">=" => max(a.name).flatMap(cmp(a.dataType, _, v)).forall(_ >= 0)
    }

    filter match {
      case And(l, r) => mayContain(stats, l) && mayContain(stats, r)
      case Or(l, r) => mayContain(stats, l) || mayContain(stats, r)
      case EqualTo(a: AttributeReference, Literal(v, _)) => leaf(a, "=", v)
      case EqualTo(Literal(v, _), a: AttributeReference) => leaf(a, "=", v)
      case LessThan(a: AttributeReference, Literal(v, _)) => leaf(a, "<", v)
      case LessThan(Literal(v, _), a: AttributeReference) => leaf(a, ">", v)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => leaf(a, "<=", v)
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) => leaf(a, ">=", v)
      case GreaterThan(a: AttributeReference, Literal(v, _)) => leaf(a, ">", v)
      case GreaterThan(Literal(v, _), a: AttributeReference) => leaf(a, "<", v)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => leaf(a, ">=", v)
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) => leaf(a, "<=", v)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, _) => leaf(a, "=", v) }
      case InSet(a: AttributeReference, hset) =>
        hset.exists(v => leaf(a, "=", v))
      case EqualNullSafe(a: AttributeReference, Literal(v, _)) if v != null => leaf(a, "=", v)
      case EqualNullSafe(Literal(v, _), a: AttributeReference) if v != null => leaf(a, "=", v)
      case IsNull(a: AttributeReference) =>
        stats.nullCounts.get(a.name).forall(_ > 0)
      case IsNotNull(a: AttributeReference) =>
        stats.nullCounts.get(a.name).forall(_ < stats.numRecords)
      case Not(EqualTo(a: AttributeReference, Literal(v, _))) if v != null =>
        // k != v is empty when every NON-NULL value is v (nulls never
        // satisfy != under 3-valued logic, so they don't block the prune)
        !(min(a.name).flatMap(cmp(a.dataType, _, v)).contains(0) &&
          max(a.name).flatMap(cmp(a.dataType, _, v)).contains(0))
      case Not(EqualTo(Literal(v, _), a: AttributeReference)) if v != null =>
        mayContain(stats, Not(EqualTo(a, Literal(v, a.dataType))))
      case StartsWith(a: AttributeReference, Literal(v, _)) if v != null =>
        val p = v.toString
        // range overlaps [p, p∞): max >= p and min's p-length prefix <= p
        max(a.name).flatMap(cmp(a.dataType, _, p)).forall(_ >= 0) &&
          min(a.name).flatMap(m => cmp(a.dataType, m.take(p.length), p)).forall(_ <= 0)
      case _ => true
    }
  }
}

/** Spark `FileIndex` over one vparquet manifest: `FileSourceStrategy`
  * calls `listFiles` with the query's data filters and every file whose
  * manifest-recorded stats refute them is dropped BEFORE task planning —
  * no footer read, no task. Files are listed from the manifest alone
  * (path + size recorded at commit), so a snapshot read makes zero
  * per-file filesystem calls.
  */
final class VParquetFileIndex(spark: SparkSession, table: String,
                              manifest: VParquet.Manifest,
                              dataSchema: StructType) extends FileIndex {

  /** The manifest entries (with their stats) this index scans — read by
    * [[graft.plans.MetadataOnlyAgg]] to answer whole-table aggregates
    * without any scan at all.
    */
  def manifestEntries: Seq[VParquet.FileEntry] = manifest.files

  private val tablePath = new Path(table)

  // legacy manifests (no size recorded) fall back to one getFileStatus per
  // file, once at index construction
  private val entries: Seq[(VParquet.FileEntry, FileStatus)] = {
    lazy val f = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifest.files.map { e =>
      val p = new Path(VParquet.entryPath(table, e.path))
      val st =
        if (e.size > 0) new FileStatus(e.size, false, 1, 128L * 1024 * 1024, manifest.ts, p)
        else f.getFileStatus(p)
      (e, st)
    }
  }

  /** Files surviving stats pruning for these filters (exposed for tests
    * and for `lastScanSelectivity` introspection).
    */
  def prunedEntries(dataFilters: Seq[Expression]): Seq[(VParquet.FileEntry, FileStatus)] =
    entries.filter { case (e, _) =>
      e.stats match {
        case Some(s) => dataFilters.forall(f => DataSkipping.mayContain(s, f))
        case None => true
      }
    }

  override def rootPaths: Seq[Path] = Seq(tablePath)
  override def partitionSchema: StructType = new StructType()
  override def sizeInBytes: Long = entries.map(_._2.getLen).sum
  override def inputFiles: Array[String] = entries.map(_._2.getPath.toString).toArray
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = prunedEntries(dataFilters)
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_._2).toArray))
  }
}

object VParquetScan {
  /** DataFrame over a manifest snapshot through the skipping FileIndex.
    * Schema comes from the manifest when recorded (zero-I/O), else from
    * parquet inference over the listed files.
    */
  def scan(spark: SparkSession, table: String, m: VParquet.Manifest): DataFrame = {
    val schema = VParquet.schemaOf(spark, table, m)
    val index = new VParquetFileIndex(spark, table, m, schema)
    val relation = HadoopFsRelation(index, new StructType(), schema, None,
      new ParquetFileFormat(), Map.empty)(spark)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)
  }
}
