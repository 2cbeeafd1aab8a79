package graft.pipeline

import scala.annotation.tailrec
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Driver-side probe: over how many splits that hold rows would a projection
  * fused onto a frame run? A projection fused into the scan stage runs one
  * task per split, so a one-row-group parquet file that Spark cuts into four
  * byte ranges still does all its work in ONE task (the three ranges without
  * a row-group midpoint read nothing). Spreading callers use this to decide.
  *
  * Metadata only: the probe starts no Spark job and never converts the frame
  * to an RDD (`df.rdd` would plan and convert it a second time). It walks the
  * frame's physical plan down through narrow operators to the source:
  *  - a parquet scan: the scan's own file splits that contain a row-group
  *    midpoint (the rule the parquet reader assigns row groups by), with
  *    footers read once per file that is cut into several splits;
  *  - any other file scan: its split count;
  *  - local rows or a range: their partition count;
  *  - a cache: the plan it caches.
  * Anything else — an exchange, a join, an aggregate, a limit, an RDD —
  * counts as wide: a frame computed through a shuffle keeps the partitioning
  * it was given (so an already spread frame is not spread again), and only a
  * frame read straight from its source has a row order that a retried task
  * reproduces.
  */
object SplitProbe {

  /** Whether fewer than `width` of `df`'s splits hold rows. Streams and
    * `width` ≤ 1 never are.
    */
  def narrowerThan(df: DataFrame, width: Int): Boolean =
    !df.isStreaming && width > 1 && rowSplits(df.queryExecution.executedPlan, width) < width

  @tailrec private def rowSplits(plan: SparkPlan, width: Int): Int = plan match {
    case a: AdaptiveSparkPlanExec => rowSplits(a.executedPlan, width)
    case _: ProjectExec | _: FilterExec | _: WholeStageCodegenExec | _: InputAdapter |
        _: ColumnarToRowExec | _: RowToColumnarExec => rowSplits(plan.children.head, width)
    case s: FileSourceScanExec => fileSplits(s, width)
    case m: InMemoryTableScanExec => rowSplits(m.relation.cachedPlan, width)
    case leaf @ (_: LocalTableScanExec | _: RangeExec) => leaf.execute().getNumPartitions
    case _ => width
  }

  private def fileSplits(scan: FileSourceScanExec, width: Int): Int = {
    val session = scan.relation.sparkSession
    val conf = session.sessionState.conf
    val listing = scan.selectedPartitions
    // Scan packing puts at most maxPartitionBytes/openCostInBytes files in one
    // split, so a scan of ≥ that·width files PROVABLY has ≥ width splits: a
    // big table answers from its file count, never cutting splits or reading
    // footers.
    val filesPerSplitMax = math.max(1L,
      conf.filesMaxPartitionBytes / math.max(1L, conf.filesOpenCostInBytes))
    if (listing.totalNumberOfFiles >= filesPerSplitMax * width) return width
    if (scan.bucketedScan) return scan.outputPartitioning.numPartitions
    // the scan's own split packing (FileSourceScanExec.createReadRDD)
    val format = scan.relation.fileFormat
    val maxSplitBytes = FilePartition.maxSplitBytes(session, listing)
    val files = listing.filePartitionIterator.flatMap { p =>
      p.files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          format.isSplitable(session, scan.relation.options, f.getPath), maxSplitBytes, p.values)
      }
    }.toArray.sortBy(_.length)(Ordering[Long].reverse)
    val splits = FilePartition.getFilePartitions(session, files.toSeq, maxSplitBytes)
    if (splits.size < width || !format.isInstanceOf[ParquetFileFormat]) return splits.size
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(scan.relation.options)
    val midpoints = mutable.Map.empty[Path, Seq[Long]]
    // a whole file is one split; only a file cut into byte ranges can leave
    // some of its ranges without rows
    def holdsRows(f: PartitionedFile): Boolean = f.length == f.fileSize ||
      midpoints.getOrElseUpdate(f.toPath, rowGroupMidpoints(f.toPath, hadoopConf))
        .exists(m => m >= f.start && m < f.start + f.length)
    splits.count(_.files.exists(holdsRows))
  }

  /** Midpoints of the row groups that hold rows, from the file's footer. */
  private def rowGroupMidpoints(path: Path, conf: Configuration): Seq[Long] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try reader.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
      .map(b => b.getStartingPos + b.getCompressedSize / 2)
    finally reader.close()
  }
}
