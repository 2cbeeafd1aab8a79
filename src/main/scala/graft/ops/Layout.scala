package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftInvalidInputException

/** Z-order (Morton-curve) data layout: the write-side clustering that turns
  * a box predicate over two or three dimensions into file/row-group
  * skipping at scan time.
  *
  * At 100 TB the cheapest query is the one that never reads the bytes: a
  * table range-partitioned and sorted by an interleaved key gives every
  * file a TIGHT min/max footer range on that key, and because the Morton
  * key is monotone in each coordinate (a1 ≤ a2 ∧ b1 ≤ b2 ⇒ z1 ≤ z2), any
  * box query maps to a zkey interval whose non-overlapping files are
  * skipped without a read — by parquet row-group stats, by a lakehouse
  * file index, or by [[zorderFiles]] below. A single-column sort gives
  * this for one dimension only; the interleave shares the locality between
  * all of them.
  *
  * Everything here is codegen'd builtin bit arithmetic (shiftleft / AND /
  * OR) — no UDFs — and the same mask-shift stages are expressible in
  * ANSI SQL, so the key is engine-replayable (the q50/q55 oracles recompute
  * it in DuckDB from the hand-written replicas at the bottom).
  */
object Layout {

  /** Inclusive upper bound of each Morton coordinate: the key interleaves
    * 16 bits per dimension, so every caller must deliver coordinates in
    * [0, 65535] (pmod / bucketize first). Out-of-domain values would WRAP
    * under the masking below and silently land in the wrong key interval —
    * [[zorderFiles]] and [[zorderRanges]] reject them loudly instead
    * (ADVICE r13).
    */
  val CoordMax: Long = 65535L

  /** The mask-shift stages that spread a 16-bit coordinate so its bit i
    * lands at bit d·i — the classic Morton spread by binary magic numbers
    * (public domain; "Bit Twiddling Hacks"). After the input mask 0xffff,
    * stage b = 8, 4, 2, 1 shifts left by b·(d−1) and keeps bit i of the
    * coordinate at ⌊i/b⌋·b·d + (i mod b): each stage halves the blocks of
    * still-adjacent bits. For d = 2 the masks are the familiar
    * 0x00ff00ff … 0x55555555. d stops at 3: at d = 4 the last lane's bit 15
    * would land on bit 63, the key would go negative and signed parquet
    * min/max would no longer be monotone in it.
    */
  private val spreadStages: Map[Int, Array[(Int, Long)]] =
    Seq(2, 3).map { d =>
      d -> Array(8, 4, 2, 1).map { b =>
        (b * (d - 1),
          (0 until 16).foldLeft(0L)((m, i) => m | 1L << (i / b * b * d + i % b)))
      }
    }.toMap

  private def requireDims(dims: Int): Unit =
    require(dims == 2 || dims == 3,
      s"a Z-order key takes 2 or 3 coordinates, got $dims")

  private def stages(dims: Int): Array[(Int, Long)] = {
    requireDims(dims)
    spreadStages(dims)
  }

  /** Morton key of two or three 16-bit coordinates: coordinate k's bit i
    * lands at bit d·i + k (32-bit key for two, 48-bit for three). Monotone
    * in each coordinate — the property file skipping needs. Domain:
    * [0, [[CoordMax]]]; higher bits are masked off, so the CALLER must
    * reduce (pmod) first or distinct coordinates collide.
    */
  def zorderKey(coords: Column*): Column = {
    val st = stages(coords.length)
    coords.zipWithIndex.map { case (c, k) =>
      val spread = st.foldLeft(c.cast("long").bitwiseAND(lit(CoordMax))) {
        case (x, (shift, mask)) =>
          x.bitwiseOR(shiftleft(x, shift)).bitwiseAND(lit(mask))
      }
      if (k == 0) spread else shiftleft(spread, k)
    }.reduce(_.bitwiseOR(_))
  }

  /** Driver-side Morton key (same bit layout as [[zorderKey]]). */
  def morton(coords: Long*): Long = mortonKey(coords.toArray)

  /** [[morton]] without the varargs wrapping — [[zorderRanges]] calls it
    * once per emitted cell.
    */
  private def mortonKey(coords: Array[Long]): Long = {
    val st = stages(coords.length)
    var z = 0L
    var k = 0
    while (k < coords.length) {
      var x = coords(k) & CoordMax
      var i = 0
      while (i < st.length) {
        x = (x | (x << st(i)._1)) & st(i)._2
        i += 1
      }
      z |= x << k
      k += 1
    }
    z
  }

  /** Driver-side Morton inverse: recover the `dims` coordinates of a key —
    * the direction a debugging session needs when a file's [zmin, zmax]
    * footer range is to be read back as box corners. Runs [[morton]]'s
    * stages backwards: shift right, then keep the previous stage's mask.
    */
  def unmorton(z: Long, dims: Int): IndexedSeq[Long] = {
    val st = stages(dims)
    val masks = CoordMax +: st.map(_._2)
    (0 until dims).map { k =>
      st.indices.reverse.foldLeft((z >> k) & masks.last) { (x, j) =>
        (x | (x >> st(j)._1)) & masks(j)
      }
    }
  }

  /** The persisted key column of a `dims`-key layout: `zkey` for two keys,
    * `zkey3` for three (so layouts written by the earlier per-dimension
    * writers stay readable).
    */
  private def keyColumn(dims: Int): String = {
    requireDims(dims)
    if (dims == 2) "zkey" else "zkey3"
  }

  /** Write `df` clustered by the Morton key of `keys` (two or three):
    * range-partition into `numFiles` key slices (each output file covers a
    * tight, disjoint key interval — range exchange samples the key, no full
    * sort) and sort rows within each file so row-group min/max stats are
    * tight too. The key column ([[keyColumn]]) is persisted: it is the skip
    * index.
    *
    * With `partitionBy`, the output is also Hive-partitioned by that column
    * and z-ordered WITHIN each partition — the two pruning levers composed,
    * which is the 100 TB layout story: a scan with a partition predicate
    * plans only the matching directories (q53's lever), and a box predicate
    * inside a partition skips files by the persisted key via [[zorderFiles]]
    * on that partition's directory (q52's lever). It is still one range
    * exchange, on (partition, key): the sampler gives each task a contiguous
    * (partition, key) slice, so almost every task writes ONE file into ONE
    * partition directory covering a tight, near-disjoint key interval.
    */
  def zorderWrite(df: DataFrame, keys: Seq[Column], outDir: String,
      numFiles: Int, partitionBy: Option[String] = None): Unit = {
    val key = keyColumn(keys.length)
    // a pre-existing key column would be silently overwritten in the
    // persisted layout (ADVICE r13) — refuse loudly instead
    require(!df.columns.contains(key),
      s"input already has a '$key' column; rename it before zorderWrite")
    partitionBy.foreach(p => require(df.columns.contains(p),
      s"partition column '$p' not in input"))
    val order = (partitionBy.toSeq :+ key).map(col)
    val writer = df.withColumn(key, zorderKey(keys: _*))
      .repartitionByRange(numFiles, order: _*)
      .sortWithinPartitions(order: _*)
      .write.mode("overwrite")
    partitionBy.fold(writer)(writer.partitionBy(_)).parquet(outDir)
  }

  /** File-level skip sets for a box query (one inclusive (lo, hi) per key,
    * in the order the layout was written with) over a [[zorderWrite]]
    * layout, from ONE pass over the directory's parquet footers. Returns
    * (coarseFiles, splitFiles, totalFiles):
    *
    *  - coarse: files whose [zmin, zmax] overlaps the box's one-range
    *    envelope [z(lo corner), z(hi corner)] — sound by per-coordinate
    *    monotonicity (every box row's key is inside it), but it keeps the
    *    seam gaps the curve jumps across;
    *  - split: files whose [zmin, zmax] overlaps some range of the
    *    [[zorderRanges]] cover — the BIGMIN/LITMAX refinement, so a box
    *    hugging a seam skips the files the envelope was forced to keep.
    *    Split ⊆ coarse (LayoutSpec pins soundness and the strict
    *    improvement).
    *
    * Reading only either set is CORRECT, just possibly more than minimal.
    * Driver-side work is one footer read per file plus O(numFiles · log
    * ranges) — never data-sized, and no Spark job.
    */
  def zorderFiles(spark: SparkSession, dir: String, box: Seq[(Long, Long)],
      maxRanges: Int = 64): (Seq[String], Seq[String], Long) = {
    val ranges = zorderRanges(box, maxRanges)
    val zLo = morton(box.map(_._1): _*)
    val zHi = morton(box.map(_._2): _*)
    val stats = fileStats(spark, dir, keyColumn(box.length))
    val coarse = stats.filter { case (_, zmin, zmax) =>
      zmax >= zLo && zmin <= zHi }.map(_._1).toSeq
    (coarse, filesOverlapping(stats, ranges), stats.length.toLong)
  }

  /** Files whose [zmin, zmax] overlaps some cover range (ranges disjoint
    * and increasing — binary search per file).
    */
  private def filesOverlapping(stats: Array[(String, Long, Long)],
      ranges: Seq[(Long, Long)]): Seq[String] = {
    val los = ranges.map(_._1).toArray
    stats.filter { case (_, zmin, zmax) =>
      // candidate range = last one starting at or before zmax
      val i = {
        val p = java.util.Arrays.binarySearch(los, zmax)
        if (p >= 0) p else -(p + 1) - 1
      }
      i >= 0 && ranges(i)._2 >= zmin
    }.map(_._1).toSeq
  }

  /** The box's key cover as ≤ `maxRanges` disjoint, increasing intervals
    * (driver-side, pure), by recursive halving of aligned cells: an aligned
    * 2^k cell's keys are contiguous (its low d·k key bits range over all
    * values), so a cell either lies outside the box (its whole z-interval
    * is SKIPPED, including the seam gaps the one-range envelope keeps),
    * inside it (emitted verbatim), or straddles it (split into 2^d
    * children). Child order — coordinate k offset iff bit k of the child
    * index is set — IS increasing z, because coordinate k's bits sit at
    * positions d·i + k.
    *
    * The exact cover grows with the box's surface (perimeter in 2-D, area
    * in 3-D), so a split budget (64·maxRanges splits, min 4096, max 2^17
    * for any `maxRanges`: ≤ 2^(17+d) cells) bounds the driver work — and
    * it is spent BREADTH-FIRST, one level at a time
    * (ADVICE r15: a depth-first recursion concentrated refinement on the
    * lowest-z cells, so once the budget ran out every remaining high-z
    * straddler was emitted whole and residual over-cover piled onto one
    * side of the box). A level either splits every straddler it holds or
    * none: once the remaining budget can't split the whole level, ALL its
    * straddlers are emitted whole, clamped to the coarse envelope — residual
    * over-cover is spread evenly across the box at a uniform depth, and
    * soundness is unconditional.
    *
    * Adjacent intervals are merged and, when more than `maxRanges` survive,
    * the smallest inter-range gaps are re-covered first — merging only ever
    * OVER-covers. maxRanges = 1 degenerates exactly to the coarse envelope,
    * so the split cover is never worse (LayoutSpec pins it).
    */
  def zorderRanges(box: Seq[(Long, Long)],
      maxRanges: Int = 64): Seq[(Long, Long)] = {
    requireBox(box)
    require(maxRanges >= 1, s"maxRanges must be >= 1, got $maxRanges")
    val d = box.length
    val los = box.map(_._1).toArray
    val his = box.map(_._2).toArray
    // every box key lies in the coarse envelope (per-coordinate
    // monotonicity: min/max over the box land at its corners) — used to
    // clamp budget-exhausted whole-cell emissions so over-cover never
    // escapes the envelope and maxRanges=1 degenerates exactly to it
    val envLo = mortonKey(los)
    val envHi = mortonKey(his)
    val exact = ArrayBuffer.empty[(Long, Long)]
    var budget = math.min(1L << 17, math.max(4096L, 64L * maxRanges))
    // the cells of one level share a side, so a cell is its low corner
    var side = CoordMax + 1
    var level = ArrayBuffer(Array.fill(d)(0L))
    while (level.nonEmpty) {
      if (budget < level.length) {
        // can't split this whole level: emit EVERY remaining straddler
        // whole, clamped to the envelope (sound — its box rows' keys lie in
        // the cell's interval AND in the envelope; a straddling cell holds
        // at least one box key, so the clamp never empties the interval)
        val keys = Seq.fill(d)(side).product
        level.foreach { cell =>
          val z0 = mortonKey(cell)
          exact += ((math.max(z0, envLo), math.min(z0 + keys - 1, envHi)))
        }
        level = ArrayBuffer.empty
      } else {
        budget -= level.length
        val h = side / 2
        val keys = Seq.fill(d)(h).product
        val next = ArrayBuffer.empty[Array[Long]]
        level.foreach { cell =>
          (0 until (1 << d)).foreach { j =>
            val child = Array.tabulate(d)(k => cell(k) + ((j >> k) & 1) * h)
            val ks = 0 until d
            if (ks.exists(k => child(k) + h - 1 < los(k) || child(k) > his(k))) ()
            else if (ks.forall(k => child(k) >= los(k) && child(k) + h - 1 <= his(k))) {
              val z0 = mortonKey(child)
              exact += ((z0, z0 + keys - 1))
            } else next += child
          }
        }
        level = next
        side = h
      }
    }
    // BFS emits levels interleaved in z; cell intervals are pairwise
    // disjoint (distinct cells; clamps only shrink) — sort by lo, then
    // one-pass adjacent merge
    val merged = ArrayBuffer.empty[(Long, Long)]
    exact.sortBy(_._1).foreach { case (lo, hi) =>
      if (merged.nonEmpty && merged.last._2 + 1 == lo)
        merged(merged.length - 1) = (merged.last._1, hi)
      else merged += ((lo, hi))
    }
    mergeToBudget(merged, maxRanges)
  }

  /** Reduce a disjoint increasing cover to ≤ `maxRanges` intervals by
    * closing the smallest inter-range gaps first: each merge adds gap-many
    * over-read keys, so greedy-by-gap minimizes total over-cover for the
    * budget. Merging only ever OVER-covers — soundness is unconditional.
    */
  private def mergeToBudget(exact: ArrayBuffer[(Long, Long)],
      maxRanges: Int): Seq[(Long, Long)] = {
    if (exact.length <= maxRanges) exact.toSeq
    else {
      val mergeAt = (1 until exact.length)
        .map(i => (exact(i)._1 - exact(i - 1)._2 - 1, i))
        .sortBy(_._1).take(exact.length - maxRanges).map(_._2).toSet
      val out = ArrayBuffer(exact.head)
      (1 until exact.length).foreach { i =>
        if (mergeAt(i)) out(out.length - 1) = (out.last._1, exact(i)._2)
        else out += exact(i)
      }
      out.toSeq
    }
  }

  /** What [[compactSmallFiles]] did, for callers/specs: counts are file
    * counts, bytes are input data-file bytes (small = below the threshold).
    */
  final case class CompactionStats(filesIn: Int, filesKeptAsIs: Int,
      filesWritten: Int, bytesIn: Long, smallBytesIn: Long)

  /** Small-file compaction — the table-maintenance half of the layout
    * story. A 100 TB table ingested in many increments accumulates
    * thousands of KB-sized parquet files; every scan then pays a per-file
    * open/footer/seek cost that dwarfs the data read, and the driver pays
    * O(files) planning. Compaction rewrites ONLY the fragments:
    *
    *  - files ≥ `smallThresholdBytes` are already well-sized — they are
    *    carried over byte-for-byte (a pure filesystem copy here; on a
    *    lakehouse table this is a metadata no-op, the file is simply kept),
    *    never decoded or re-encoded;
    *  - files below the threshold are read together and coalesced to
    *    ⌈smallBytes / targetBytes⌉ outputs. `coalesce` (not `repartition`)
    *    merges read-splits WITHOUT a shuffle — each output task streams a
    *    handful of small files end-to-end, so the whole rewrite moves each
    *    fragmented byte exactly once and moves well-sized bytes zero times.
    *
    * Driver-side work is one directory listing, O(numFiles) — never
    * data-sized. Row-set fidelity is oracle-gated (q54: residue-class
    * counts/checksums over the compacted dir equal DuckDB's over the
    * original table); the file-count reduction and the byte-identity of
    * carried files are pinned in LayoutSpec.
    */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, targetBytes: Long,
      smallThresholdBytes: Long): CompactionStats = {
    require(targetBytes > 0 && smallThresholdBytes > 0,
      s"sizes must be positive: target=$targetBytes small=$smallThresholdBytes")
    val conf = spark.sessionState.newHadoopConf()
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = inPath.getFileSystem(conf)
    val files = fs.listStatus(inPath).toSeq
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
    val (small, large) = files.partition(_.getLen < smallThresholdBytes)
    val smallBytes = small.map(_.getLen).sum
    val nOut =
      if (small.isEmpty) 0
      else math.max(1, math.ceil(smallBytes.toDouble / targetBytes).toInt)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    if (small.nonEmpty) {
      spark.read.parquet(small.map(_.getPath.toString): _*)
        .coalesce(nOut)
        .write.mode("overwrite").parquet(outDir)
    } else {
      fs.mkdirs(outPath)
    }
    // report what was WRITTEN, not what was requested: coalesce caps at the
    // scan's partition count (the file-packing reader can open 64 fragments
    // as fewer splits than ⌈bytes/target⌉), so the actual count is the
    // directory's
    val written =
      if (small.isEmpty) 0
      else fs.listStatus(outPath).count(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
    // carry the well-sized files over unread (rename-in on a lakehouse);
    // distinct names are guaranteed — spark part-file names carry a UUID
    large.foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new org.apache.hadoop.fs.Path(outPath, st.getPath.getName),
        false, conf)
    }
    CompactionStats(files.size, large.size, written,
      files.map(_.getLen).sum, smallBytes)
  }

  private def requireBox(box: Seq[(Long, Long)]): Unit = {
    requireDims(box.length)
    require(box.forall { case (lo, hi) => lo <= hi }, "empty box")
    // out-of-domain bounds would WRAP under morton's 16-bit masks and
    // silently skip files containing matching rows (ADVICE r13)
    require(box.forall { case (lo, hi) => lo >= 0 && hi <= CoordMax },
      s"box coordinates must lie in [0, $CoordMax]: got " +
        box.map { case (lo, hi) => s"[$lo,$hi]" }.mkString(" "))
  }

  /** Per-file `key` min/max FROM THE PARQUET FOOTERS — O(numFiles) metadata
    * reads, zero data decoded, no Spark job (optimization guide §6:
    * skip-set planning must ride file statistics, not a table scan, which
    * would be data-sized at 100 TB). [[zorderWrite]] always persists the
    * key as a non-null INT64, for which the Spark parquet writer always
    * records row-group min/max. So a file without the key column or its
    * min/max is not such a layout — e.g. a 3-D box over a 2-D layout, or a
    * plain directory — and fails here, naming the file and the key.
    *
    * Files with zero rows are excluded (no key range to overlap).
    */
  private def fileStats(spark: SparkSession, dir: String,
      key: String): Array[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    val files = fs.listStatus(path).filter(st => st.isFile && {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    })
    files.flatMap { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        if (blocks.map(_.getRowCount).sum == 0L) None
        else {
          var zmin = Long.MaxValue
          var zmax = Long.MinValue
          blocks.foreach { b =>
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == key)
              .getOrElse(throw new GraftInvalidInputException(
                s"${st.getPath}: no column chunk for Z-order key $key — not a " +
                  "zorderWrite layout with this box's number of keys"))
            val stats = cc.getStatistics
            if (stats == null || stats.isEmpty || !stats.hasNonNullValue)
              throw new GraftInvalidInputException(
                s"${st.getPath}: footer carries no $key min/max")
            zmin = math.min(zmin,
              stats.genericGetMin.asInstanceOf[java.lang.Long].longValue)
            zmax = math.max(zmax,
              stats.genericGetMax.asInstanceOf[java.lang.Long].longValue)
          }
          Some((st.getPath.toString, zmin, zmax))
        }
      } finally reader.close()
    }
  }

  /** The q55 oracle's SQL replica of [[zorderKey]]'s three-key spread: the
    * five-stage libmorton mask chain, written out by hand (masks interpolate
    * as decimals, which both engines parse). It must never be derived from
    * the generated stage table above — the oracle checks the engine's key
    * only as long as the two are built independently.
    */
  def spreadSql3(e: String): String = {
    // BIGINT cast up front: DuckDB range-checks `<< 32` against the LEFT
    // operand's width, so an INTEGER-typed input would throw Out of Range
    val x0 = s"((CAST(($e) AS BIGINT)) & 65535)"
    val x1 = s"(($x0 | ($x0 << 32)) & ${0x1f00000000ffffL})"
    val x2 = s"(($x1 | ($x1 << 16)) & ${0x1f0000ff0000ffL})"
    val x3 = s"(($x2 | ($x2 << 8)) & ${0x100f00f00f00f00fL})"
    val x4 = s"(($x3 | ($x3 << 4)) & ${0x10c30c30c30c30c3L})"
    s"(($x4 | ($x4 << 2)) & ${0x1249249249249249L})"
  }

  def zorderKey3Sql(a: String, b: String, c: String): String =
    s"(${spreadSql3(a)} | (${spreadSql3(b)} << 1) | (${spreadSql3(c)} << 2))"

  /** The q50 oracle's SQL replica of [[zorderKey]]'s two-key spread, the
    * mask chain written out by hand — independent of the generated stage
    * table for the same reason as [[spreadSql3]].
    */
  def spreadSql(e: String): String = {
    val x0 = s"(($e) & 65535)"
    val x1 = s"(($x0 | ($x0 << 8)) & 16711935)"
    val x2 = s"(($x1 | ($x1 << 4)) & 252645135)"
    val x3 = s"(($x2 | ($x2 << 2)) & 858993459)"
    s"(($x3 | ($x3 << 1)) & 1431655765)"
  }

  def zorderKeySql(a: String, b: String): String =
    s"(${spreadSql(a)} | (${spreadSql(b)} << 1))"
}
