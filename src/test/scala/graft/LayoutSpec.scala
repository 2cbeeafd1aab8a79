package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.GraftInvalidInputException
import graft.ops.{Layout, Sketches}

/** Z-order layout (the write-side pruning primitive) and the count-min
  * sketch: the properties the registry oracles can't see — actual file
  * skipping for a box query, and the CMS guarantee under adversarial
  * collisions. The Z-order bodies that hold for two and three keys are
  * written once and registered per dimension count.
  */
class LayoutSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))

  private lazy val telemetry = QueryTelemetry.attach(spark.sparkContext)

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every combination of one value per lane. */
  private def cross(choices: Seq[Seq[Long]]): Seq[Seq[Long]] =
    choices.foldLeft(Seq(Seq.empty[Long])) { (acc, lane) =>
      for (p <- acc; v <- lane) yield p :+ v
    }

  /** A (2^bits)^d-point grid over the full 16-bit domain: lane k (column
    * `ck`) is id's k-th `bits`-bit digit scaled by 2^(16 − bits). (sf0.001's
    * real key domains are too narrow to exercise pruning — every key would
    * sit inside any interesting box.)
    */
  private def grid(d: Int, bits: Int): DataFrame =
    spark.range(1L << (d * bits)).select(col("id") +: (0 until d).map { k =>
      shiftleft(shiftright(col("id"), k * bits).bitwiseAND(lit((1L << bits) - 1)),
        16 - bits).as(s"c$k")
    }: _*)

  private def lanes(d: Int): Seq[Column] = (0 until d).map(k => col(s"c$k"))

  private def inBox(box: Seq[(Long, Long)]): Column =
    box.zipWithIndex.map { case ((lo, hi), k) => col(s"c$k").between(lo, hi) }
      .reduce(_ && _)

  private def covered(rs: Seq[(Long, Long)], z: Long): Boolean =
    rs.exists(r => z >= r._1 && z <= r._2)

  private def assertDisjointIncreasing(rs: Seq[(Long, Long)]): Unit =
    rs.sliding(2).foreach {
      case Seq((_, h1), (l2, _)) => assert(h1 < l2, "disjoint and increasing")
      case _ =>
    }

  // ---- Morton key: Column, SQL and driver forms ------------------------

  /** Coordinate columns of the key-form checks (the q50/q55 lanes). */
  private val keyLanes = Seq("l_partkey", "l_suppkey", "l_orderkey")

  private def keyFormsAgree(d: Int): Unit = {
    val coords = keyLanes.take(d).map(c => pmod(col(c), lit(65536)))
    val rows = lineitem.limit(64)
      .select(coords.zipWithIndex.map { case (c, k) => c.as(s"c$k") } :+
        Layout.zorderKey(coords: _*).as("z"): _*)
      .collect()
    assert(rows.nonEmpty)
    def driverKey(r: org.apache.spark.sql.Row): Long =
      Layout.morton((0 until d).map(k => r.getAs[Long](s"c$k")): _*)
    rows.foreach(r => assert(r.getAs[Long]("z") === driverKey(r)))
    // the SQL replica (the q50/q55 oracle) through Spark's own SQL engine
    val view = s"li_z$d"
    lineitem.limit(64).createOrReplaceTempView(view)
    val sqlCoords = keyLanes.take(d).map(c => s"$c % 65536")
    val sqlKey = d match {
      case 2 => Layout.zorderKeySql(sqlCoords(0), sqlCoords(1))
      case 3 => Layout.zorderKey3Sql(sqlCoords(0), sqlCoords(1), sqlCoords(2))
    }
    val sqlRows = spark.sql(s"SELECT $sqlKey AS z, " +
      sqlCoords.zipWithIndex.map { case (c, k) => s"$c AS c$k" }.mkString(", ") +
      s" FROM $view").collect()
    assert(sqlRows.nonEmpty)
    sqlRows.foreach(r => assert(r.getAs[Long]("z") === driverKey(r)))
  }

  /** Exact inverse over the grid diagonal (every `step`) + edges, each
    * paired with mirrored and scattered partners in the other lanes.
    */
  private def inverseRoundTrips(d: Int, step: Long): Unit = {
    val pts = (0L to 65535L by step) ++ Seq(0L, 1L, 65534L, 65535L)
    for (a <- pts; rest <- cross(Seq.fill(d - 1)(
        Seq(a, 65535L - a, (a * 31L + 7L) % 65536L)))) {
      val coords = a +: rest
      assert(Layout.unmorton(Layout.morton(coords: _*), d) === coords,
        s"round trip failed at $coords")
    }
  }

  /** Raising any one coordinate raises the key (pruning soundness). */
  private def monotone(samples: Seq[Seq[Long]]): Unit =
    for (coords <- cross(samples); k <- coords.indices
         if coords(k) < Layout.CoordMax) {
      val up = coords.updated(k, coords(k) + 1)
      assert(Layout.morton(coords: _*) < Layout.morton(up: _*),
        s"key must grow with coordinate $k at $coords")
    }

  test("morton key: Column form, SQL form, and driver form agree bit-for-bit") {
    keyFormsAgree(2)
  }

  test("morton inverse round-trips every key form") {
    inverseRoundTrips(2, step = 257L)
  }

  test("morton key is monotone in each coordinate") {
    monotone(Seq(Seq(0L, 1L, 77L, 65535L), Seq(0L, 1L, 300L, 65535L)))
  }

  test("3-D morton: Column, SQL, and driver forms agree; inverse round-trips; monotone") {
    keyFormsAgree(3)
    inverseRoundTrips(3, step = 509L)
    monotone(Seq(Seq(0L, 77L, 65534L), Seq(1L, 300L, 65534L),
      Seq(0L, 4097L, 65534L)))
  }

  // The spread chains the key used before the stages were generated from
  // the dimension count, copied verbatim as the reference.
  private def spreadBy2(v: Long): Long = {
    var x = v & 0xffffL
    x = (x | (x << 8)) & 0x00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0fL
    x = (x | (x << 2)) & 0x33333333L
    (x | (x << 1)) & 0x55555555L
  }

  private def spreadBy3(v: Long): Long = {
    var x = v & 0xffffL
    x = (x | (x << 32)) & 0x1f00000000ffffL
    x = (x | (x << 16)) & 0x1f0000ff0000ffL
    x = (x | (x << 8)) & 0x100f00f00f00f00fL
    x = (x | (x << 4)) & 0x10c30c30c30c30c3L
    (x | (x << 2)) & 0x1249249249249249L
  }

  test("morton: generated spread stages equal the literal 2-D and 3-D mask chains on every coordinate") {
    for ((d, ref) <- Seq[(Int, Long => Long)](2 -> spreadBy2, 3 -> spreadBy3)) {
      val ks = 0 until d
      // driver form: each lane alone, every 16-bit value
      (0L to Layout.CoordMax).foreach { v =>
        ks.foreach { k =>
          val coords = ks.map(j => if (j == k) v else 0L)
          val z = Layout.morton(coords: _*)
          if (z != ref(v) << k) fail(s"d=$d lane $k: morton($coords) = $z, want ${ref(v) << k}")
          if (Layout.unmorton(z, d) != coords) fail(s"d=$d: unmorton($z) != $coords")
        }
      }
      // Column form over the same domain
      val keys = ks.map(k => Layout.zorderKey(ks.map(j =>
        if (j == k) col("id") else lit(0L)): _*).as(s"z$k"))
      val rows = spark.range(Layout.CoordMax + 1).select(col("id") +: keys: _*)
        .collect()
      assert(rows.length === 65536)
      rows.foreach { r =>
        val v = r.getLong(0)
        ks.foreach { k =>
          if (r.getLong(k + 1) != ref(v) << k)
            fail(s"d=$d lane $k: zorderKey at $v = ${r.getLong(k + 1)}, want ${ref(v) << k}")
        }
      }
    }
  }

  test("morton and zorderKey take two or three coordinates only") {
    intercept[IllegalArgumentException](Layout.morton(1L))
    intercept[IllegalArgumentException](Layout.morton(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException](Layout.unmorton(0L, 4))
    intercept[IllegalArgumentException](Layout.zorderKey(col("a")))
    intercept[IllegalArgumentException](Layout.zorderRanges(Seq((0L, 1L))))
  }

  // ---- write + file skipping -------------------------------------------

  test("zorderWrite: box query skips most files; a round-robin layout skips none") {
    val tmpZ = tempDir("graft_zorder_")
    val tmpN = tempDir("graft_naive_")
    // a full 256×256 grid over the 16-bit key space
    val g = grid(2, bits = 8)
    val nFiles = 16
    Layout.zorderWrite(g, lanes(2), tmpZ, nFiles)
    // naive comparator: same zkey column, but round-robin placement — every
    // file's footer range spans nearly the whole key space
    g.withColumn("zkey", Layout.zorderKey(lanes(2): _*))
      .repartition(nFiles)
      .write.mode("overwrite").parquet(tmpN)

    // range partitioning ⇒ per-file key intervals are disjoint
    val zStats = spark.read.parquet(tmpZ)
      .groupBy(input_file_name().as("f"))
      .agg(min("zkey").as("zmin"), max("zkey").as("zmax"))
      .orderBy("zmin").collect()
    assert(zStats.length > 4, "range partitioner should emit many files")
    zStats.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Long]("zmax") <= hi.getAs[Long]("zmin"),
          "zorder files must cover disjoint key intervals")
      case _ =>
    }

    // a small 2-D box: both dims constrained
    val box = Seq((0L, 2047L), (0L, 2047L))
    val (keepZ, _, totalZ) = Layout.zorderFiles(spark, tmpZ, box)
    val (keepN, _, totalN) = Layout.zorderFiles(spark, tmpN, box)
    assert(keepZ.size.toDouble / totalZ <= 0.5,
      s"zorder layout should skip at least half the files for a 1/1024 box, kept ${keepZ.size}/$totalZ")
    assert(keepN.size.toDouble >= totalN * 0.9,
      s"round-robin layout should skip ~nothing, kept ${keepN.size}/$totalN")

    // soundness: the kept files contain every box row
    val expected = g.filter(inBox(box)).count()
    assert(expected === 64L, "8×8 grid cells inside the box")
    val got = spark.read.parquet(keepZ: _*).filter(inBox(box)).count()
    assert(got === expected, "file pruning must not drop box rows")
  }

  /** Reference for the budgeted [[Layout.zorderRanges]]: the box's exact
    * key cover with no split budget, by depth-first halving of aligned
    * cells in z order, handing `f` each maximal run of adjacent in-box
    * cells in increasing key order. Child j of a cell offsets coordinate k
    * by the half side h iff bit k of j is set, which sets key bit d·log2(h)
    * + k: its keys start j·h^d after its parent's. Work grows with the
    * box's surface, unbounded.
    */
  private def forEachExactRange(box: Seq[(Long, Long)])(f: (Long, Long) => Unit): Unit = {
    val d = box.length
    val (los, his) = (box.map(_._1).toArray, box.map(_._2).toArray)
    var runLo, runHi = -2L
    def visit(cell: Array[Long], side: Long, z0: Long): Unit = {
      var inside = true
      var outside = false
      var k = 0
      while (k < d) {
        if (cell(k) + side - 1 < los(k) || cell(k) > his(k)) outside = true
        if (cell(k) < los(k) || cell(k) + side - 1 > his(k)) inside = false
        k += 1
      }
      if (outside) ()
      else if (inside) {
        val z1 = z0 + math.pow(side.toDouble, d).toLong - 1
        if (runHi + 1 == z0) runHi = z1
        else {
          if (runLo >= 0) f(runLo, runHi)
          runLo = z0; runHi = z1
        }
      } else {
        val h = side / 2
        val keys = math.pow(h.toDouble, d).toLong
        var j = 0
        while (j < (1 << d)) {
          val child = new Array[Long](d)
          k = 0
          while (k < d) { child(k) = cell(k) + ((j >> k) & 1) * h; k += 1 }
          visit(child, h, z0 + j * keys)
          j += 1
        }
      }
    }
    visit(new Array[Long](d), Layout.CoordMax + 1, 0L)
    if (runLo >= 0) f(runLo, runHi)
  }

  private def exactRanges(box: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    forEachExactRange(box)((lo, hi) => out += ((lo, hi)))
    out.toSeq
  }

  /** Every key of `box` lies in each of `covers` (each disjoint and
    * increasing): one pass over the exact cover, each exact range checked
    * against the one cover range that can hold it.
    */
  private def assertHoldBox(box: Seq[(Long, Long)], covers: Seq[Seq[(Long, Long)]]): Unit = {
    val rs = covers.map(_.toArray)
    val at = new Array[Int](rs.length)
    forEachExactRange(box) { (lo, hi) =>
      var c = 0
      while (c < rs.length) {
        val r = rs(c)
        while (at(c) < r.length && r(at(c))._2 < lo) at(c) += 1
        if (at(c) == r.length || r(at(c))._1 > lo || r(at(c))._2 < hi)
          fail(s"cover $c (${r.length} ranges) drops keys of exact range [$lo, $hi]")
        c += 1
      }
    }
  }

  /** The exact cover (no budget) is disjoint, increasing, covers exactly
    * the box's volume, holds the sampled box points (corners plus
    * `interior` values per lane) and misses the points one step outside
    * each face and the domain's two corners; under the split cap,
    * zorderRanges at an unlimited `maxRanges` returns exactly it.
    */
  private def exactCover(box: Seq[(Long, Long)], interior: Seq[Seq[Long]]): Unit = {
    val rs = exactRanges(box)
    assert(Layout.zorderRanges(box, maxRanges = Int.MaxValue) === rs)
    assertDisjointIncreasing(rs)
    // exact cover: total keys covered == box volume (no over-read)
    assert(rs.map(r => r._2 - r._1 + 1).sum ===
      box.map { case (lo, hi) => hi - lo + 1 }.product)
    for (p <- cross(box.zip(interior).map { case ((lo, hi), in) => Seq(lo, hi) ++ in }))
      assert(covered(rs, Layout.morton(p: _*)), s"box point $p must be covered")
    val (los, his) = box.unzip
    val outside = box.indices.flatMap { k =>
      Seq(los.updated(k, los(k) - 1), his.updated(k, his(k) + 1))
    } ++ Seq(box.map(_ => 0L), box.map(_ => Layout.CoordMax))
    for (p <- outside)
      assert(!covered(rs, Layout.morton(p: _*)),
        s"outside point $p must not be covered by the exact cover")
  }

  test("zorderRanges: exact cover is disjoint, increasing, and exactly the box") {
    exactCover(Seq((3L, 300L), (129L, 40000L)),
      Seq(Seq(77L, 256L), Seq(1024L, 32768L, 39999L)))
  }

  test("zorderRanges3: exact cover is disjoint, increasing, and exactly the box") {
    exactCover(Seq((3L, 60L), (9L, 200L), (7L, 50L)),
      Seq(Seq(33L), Seq(128L), Seq(32L)))
  }

  /** Budgeted covers contain every exact range; maxRanges = 1 is the
    * coarse envelope.
    */
  private def mergedCovers(box: Seq[(Long, Long)]): Unit = {
    val covers = Seq(1, 4, 16, 64).map { m =>
      val rs = Layout.zorderRanges(box, maxRanges = m)
      assert(rs.length <= m)
      assertDisjointIncreasing(rs)
      rs
    }
    // merging only over-covers: every exact range sits inside a merged one
    assertHoldBox(box, covers)
    assert(Layout.zorderRanges(box, maxRanges = 1) ===
      Seq((Layout.morton(box.map(_._1): _*), Layout.morton(box.map(_._2): _*))))
  }

  test("zorderRanges: merged covers stay sound; maxRanges=1 degenerates to the coarse envelope") {
    mergedCovers(Seq((100L, 5000L), (30000L, 35000L))) // crosses the b=32768 seam
  }

  test("zorderRanges3: merged covers stay sound; maxRanges=1 degenerates to the coarse envelope") {
    // crosses the b = 32768 seam (key bit 46)
    mergedCovers(Seq((100L, 5000L), (30000L, 35000L), (7L, 900L)))
  }

  /** A box whose exact cover needs more splits than the budget: the cover
    * keeps the requested cap and still holds every sampled box point.
    */
  private def budgetExhaustion(box: Seq[(Long, Long)], interior: Seq[Seq[Long]]): Unit = {
    val rs = Layout.zorderRanges(box, maxRanges = 8)
    assert(rs.length <= 8)
    assertDisjointIncreasing(rs)
    val vol = box.map { case (lo, hi) => hi - lo + 1 }.product
    assert(rs.map(r => r._2 - r._1 + 1).sum >= vol,
      "budgeted cover must still cover at least the box volume")
    for (p <- cross(box.zip(interior).map { case ((lo, hi), in) => Seq(lo, hi) ++ in }))
      assert(covered(rs, Layout.morton(p: _*)),
        s"box point $p must survive budget exhaustion")
  }

  test("zorderRanges: split-budget exhaustion over-covers but never drops box keys") {
    // ~11k splits for the exact cover vs the 4096-split budget
    budgetExhaustion(Seq((100L, 5000L), (30000L, 35000L)),
      Seq(Seq(2048L), Seq(32767L, 32768L)))
  }

  test("zorderRanges3: split-budget exhaustion over-covers but never drops box keys") {
    // a box this large has an exact octree cover in the millions of cells
    budgetExhaustion(Seq((100L, 50000L), (200L, 60000L), (300L, 40000L)),
      Seq(Seq(32768L), Seq(4096L), Seq(16384L)))
  }

  test("zorderRanges: an unlimited maxRanges still caps the splits; q56's box keeps every key") {
    val box = Seq((64L, 1600L), (16L, 72L), (256L, 16384L)) // q56_zorder3_pruned_scan
    val rs = Layout.zorderRanges(box, maxRanges = Int.MaxValue)
    // ≤ 2^d cells per split under the 2^17-split cap (the exact cover is
    // 13.4 M cells)
    assert(rs.length <= (1 << (17 + box.length)), s"${rs.length} ranges")
    assertDisjointIncreasing(rs)
    assertHoldBox(box, Seq(rs))
    assert(rs.head._1 >= Layout.morton(box.map(_._1): _*) &&
      rs.last._2 <= Layout.morton(box.map(_._2): _*), "cover leaves the envelope")
  }

  test("zorderRanges rejects out-of-domain boxes that would wrap under the 16-bit masks") {
    intercept[IllegalArgumentException] {
      Layout.zorderRanges(Seq((0L, 65536L), (0L, 10L)))
    }
    intercept[IllegalArgumentException] {
      Layout.zorderFiles(spark, "/nonexistent", Seq((-1L, 10L), (0L, 10L)))
    }
  }

  test("zorderRanges3 rejects out-of-domain boxes that would wrap under the 16-bit masks") {
    intercept[IllegalArgumentException] {
      Layout.zorderRanges(Seq((0L, 65536L), (0L, 10L), (0L, 10L)))
    }
    intercept[IllegalArgumentException] {
      Layout.zorderFiles(spark, "/nonexistent", Seq((0L, 10L), (-1L, 10L), (0L, 10L)))
    }
  }

  /** On a box crossing the top key bit's seam the split cover keeps a
    * strict subset of the coarse envelope's files, and loses no box row.
    */
  private def splitEnvelope(d: Int, bits: Int, box: Seq[(Long, Long)],
      expectedRows: Long): Unit = {
    val tmpZ = tempDir(s"graft_zsplit${d}_")
    val g = grid(d, bits)
    Layout.zorderWrite(g, lanes(d), tmpZ, 16)
    val (coarse, split, total) = Layout.zorderFiles(spark, tmpZ, box)
    assert(total === dataFiles(tmpZ).size.toLong, "every written file is counted")
    assert(split.toSet.subsetOf(coarse.toSet),
      "split ranges lie inside the coarse interval, so kept files must too")
    assert(split.size < coarse.size,
      s"split must prune strictly more on a seam box: split ${split.size} " +
        s"vs coarse ${coarse.size} of $total")
    // soundness: the kept files contain every box row
    val expected = g.filter(inBox(box)).count()
    assert(expected === expectedRows)
    val got = spark.read.parquet(split: _*).filter(inBox(box)).count()
    assert(got === expected, "split file pruning must not drop box rows")
  }

  test("split envelope: sound, and strictly better than coarse on a seam-crossing box") {
    // 256×256 grid; the box crosses the b = 32768 seam: the coarse one-range
    // envelope spans the whole inter-half z gap, the split cover skips it
    splitEnvelope(2, bits = 8, Seq((0L, 2047L), (32512L, 33535L)), 32L)
  }

  test("3-D split envelope: sound, and strictly better than coarse on a seam-crossing box") {
    // 32^3 grid; the box crosses the c = 32768 seam (key bit 47, the
    // topmost): the coarse envelope spans nearly the whole key space, the
    // split cover keeps two compact regions
    splitEnvelope(3, bits = 5,
      Seq((0L, 4095L), (0L, 4095L), (30720L, 34815L)), 8L)
  }

  test("zorderFilesForBoth: one stats pass reproduces both covers exactly") {
    val tmpZ = tempDir("graft_zboth_")
    Layout.zorderWrite(grid(2, bits = 8), lanes(2), tmpZ, 16)
    val box = Seq((0L, 2047L), (32512L, 33535L))
    val (coarse, split, total) = Layout.zorderFiles(spark, tmpZ, box)
    // reference: per-file key ranges from a data scan, intersected with the
    // envelope and with the range cover
    val scanned = spark.read.parquet(tmpZ)
      .groupBy(input_file_name().as("f"))
      .agg(min("zkey").as("zmin"), max("zkey").as("zmax"))
      .collect()
      .map(r => (new org.apache.hadoop.fs.Path(r.getAs[String]("f")).toString,
        r.getAs[Long]("zmin"), r.getAs[Long]("zmax")))
    val (zLo, zHi) = (Layout.morton(0L, 32512L), Layout.morton(2047L, 33535L))
    val ranges = Layout.zorderRanges(box)
    def overlapping(rs: Seq[(Long, Long)]): Seq[String] = scanned.collect {
      case (f, zmin, zmax) if rs.exists(r => zmax >= r._1 && zmin <= r._2) => f
    }.toSeq
    assert(coarse.sorted === overlapping(Seq((zLo, zHi))).sorted)
    assert(split.sorted === overlapping(ranges).sorted)
    assert(total === scanned.length.toLong)
    intercept[IllegalArgumentException] {
      Layout.zorderFiles(spark, "/nonexistent", Seq((-1L, 10L), (0L, 10L)))
    }
  }

  test("footer-based file stats agree with a data scan of the persisted key") {
    // the skip set must be buildable from footer metadata alone; this pins
    // that the footer min/max equal the scanned min/max per file
    val tmpZ = tempDir("graft_zfoot_")
    Layout.zorderWrite(grid(2, bits = 6), lanes(2), tmpZ, 8)
    val scanned = spark.read.parquet(tmpZ)
      .groupBy(input_file_name().as("file"))
      .agg(min("zkey").as("zmin"), max("zkey").as("zmax"))
      .collect()
      .map(r => (r.getAs[Long]("zmin"), r.getAs[Long]("zmax"))).sorted
    // the full-domain box keeps every file; its stats pass is footer-based
    val (all, _, total) = Layout.zorderFiles(spark, tmpZ,
      Seq((0L, Layout.CoordMax), (0L, Layout.CoordMax)))
    assert(all.size.toLong === total)
    // per-file ranges from the footers must tile exactly like the scan's:
    // re-derive them by scanning the kept files one at a time
    val byFooter = all.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("zkey").as("zmin"), max("zkey").as("zmax")).head
      (r.getAs[Long]("zmin"), r.getAs[Long]("zmax"))
    }.sorted
    assert(byFooter === scanned.toSeq)
  }

  test("zorderFiles: a layout without the box's key column fails fast, naming file and key, with no Spark job") {
    val tmpZ = tempDir("graft_zmismatch_")
    Layout.zorderWrite(grid(2, bits = 6), lanes(2), tmpZ, 4)
    val tmpPlain = tempDir("graft_zplain_")
    grid(2, bits = 6).write.mode("overwrite").parquet(tmpPlain)
    val tag = "layout-mismatch"
    val (threeOverTwo, twoOverPlain) = telemetry.tagged(tag) {
      (intercept[GraftInvalidInputException](Layout.zorderFiles(spark, tmpZ,
        Seq((0L, 10L), (0L, 10L), (0L, 10L)))),
       intercept[GraftInvalidInputException](Layout.zorderFiles(spark, tmpPlain,
        Seq((0L, 10L), (0L, 10L)))))
    }
    assert(threeOverTwo.getMessage.contains("zkey3") &&
      threeOverTwo.getMessage.contains(tmpZ), threeOverTwo.getMessage)
    assert(twoOverPlain.getMessage.contains("zkey") &&
      twoOverPlain.getMessage.contains(tmpPlain), twoOverPlain.getMessage)
    telemetry.drain()
    assert(telemetry.take(tag).jobs === 0, "footer checks must not start a job")
  }

  test("zorderWritePartitioned: both levers hold — partition dirs + in-partition file skipping, row set exact") {
    val tmp = tempDir("graft_zpart_")
    // 3 partitions × a 64×64 coordinate grid scaled by 1024
    val grid = spark.range(12288L)
      .select(col("id"),
        (col("id") % 3).as("p"),
        shiftleft(col("id").bitwiseAND(lit(63L)), 10).as("ca"),
        shiftleft(shiftright(col("id"), 6).bitwiseAND(lit(63L)), 10)
          .bitwiseAND(lit(65535L)).as("cb"))
    Layout.zorderWrite(grid, Seq(col("ca"), col("cb")), tmp, 24,
      partitionBy = Some("p"))
    // lever 1: the layout is Hive-partitioned — one directory per p value
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(dirs.toSeq === Seq("p=0", "p=1", "p=2"))
    // lever 2: INSIDE one partition the persisted zkey still skips files
    // for a small box (the composition q57 gates through data at sf0.01)
    val (aLo, aHi, bLo, bHi) = (0L, 4095L, 0L, 4095L)
    val (_, keep, total) = Layout.zorderFiles(spark, s"$tmp/p=1",
      Seq((aLo, aHi), (bLo, bHi)))
    assert(total >= 4, s"partition should hold several files, got $total")
    assert(keep.size < total,
      s"box must skip files inside the partition: kept ${keep.size}/$total")
    // soundness + fidelity: the kept files contain every box row of p=1,
    // and the whole layout preserves the row set exactly
    val expected = grid.filter(col("p") === 1 && col("ca").between(aLo, aHi) &&
      col("cb").between(bLo, bHi)).count()
    val got = spark.read.parquet(keep: _*)
      .filter(col("ca").between(aLo, aHi) && col("cb").between(bLo, bHi))
      .count()
    assert(got === expected, "in-partition file pruning must not drop box rows")
    assert(spark.read.parquet(tmp).count() === 12288L)
    assert(spark.read.parquet(tmp)
      .agg(sum(col("id")).cast("long")).head.getLong(0) ===
      12288L * 12287L / 2)
  }


  test("count-min sketch never underestimates and is exact for unique-bucket tokens") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha alpha alpha beta"), (2L, "alpha beta gamma delta"),
      (3L, "beta beta epsilon zeta"), (4L, "alpha zeta zeta zeta"))
      .toDF("doc_id", "text")
    val hh = Sketches.heavyHitters(docs, "text", k = 10, depth = 3, width = 1024)
      .collect()
    assert(hh.length === 6)
    hh.foreach { r =>
      assert(r.getAs[Long]("no_underestimate") === 1L,
        s"CMS must never underestimate: $r")
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_cnt"))
    }
    // with 16 distinct (seed, token) cells in a width-1024 sketch the
    // collision odds are negligible — every estimate should be exact here
    val exact = hh.count(r => r.getAs[Long]("cms_est") === r.getAs[Long]("exact_cnt"))
    assert(exact === 6, "tiny corpus in a wide sketch: estimates must be exact")
    val alpha = hh.find(_.getAs[String]("tok") == "alpha").get
    assert(alpha.getAs[Long]("exact_cnt") === 5L)
  }

  test("count-min merge: per-shard sketches fold to EXACTLY the whole-corpus sketch") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val toks = docs.select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val shard1 = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val shard2 = docs.filter(col("doc_id") % 2 =!= 0)
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val whole = Sketches.countMinSketch(toks, "tok", depth = 3, width = 256)
    val merged = Sketches.merge(
      Sketches.countMinSketch(shard1, "tok", depth = 3, width = 256),
      Sketches.countMinSketch(shard2, "tok", depth = 3, width = 256))
    // cell-wise sums: merged must equal whole exactly, not approximately
    assert(merged.exceptAll(whole).count() === 0L)
    assert(whole.exceptAll(merged).count() === 0L)
  }

  test("estimateFor: probes against a merged sketch honor the CMS guarantee; unseen token reads 0") {
    import spark.implicits._
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry")).toDF("doc_id", "text")
    val toks = docs.select(explode(split(col("text"), "\\s+")).as("tok"))
    val sketch = Sketches.countMinSketch(toks, "tok", depth = 3, width = 1024)
    val probes = Seq("apple", "banana", "cherry", "durian").toDF("tok")
    val est = Sketches.estimateFor(sketch, probes, "tok", depth = 3, width = 1024)
      .collect().map(r => r.getAs[String]("tok") -> r.getAs[Long]("cms_est")).toMap
    assert(est("apple") >= 2L && est("banana") >= 2L && est("cherry") >= 1L)
    assert(est("durian") === 0L, "a token no corpus token ever hashed with must read 0")
  }

  test("HLL registers: shard merge equals whole corpus; estimate within 5% of exact") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("fp", graft.ops.TextOps.fingerprint(col("text")))
    val whole = Sketches.hllRegisters(docs, "fp")
    val merged = Sketches.hllMerge(
      Sketches.hllRegisters(docs.filter(col("doc_id") % 2 === 0), "fp"),
      Sketches.hllRegisters(docs.filter(col("doc_id") % 2 =!= 0), "fp"))
    assert(merged.exceptAll(whole).count() === 0L)
    assert(whole.exceptAll(merged).count() === 0L)
    // at most m register rows, whatever the corpus size
    assert(whole.count() <= Sketches.HllRegisters.toLong)
    val exact = docs.select("fp").distinct().count().toDouble
    val est = Sketches.hllEstimate(merged).head.getAs[Double]("hll_est")
    assert(math.abs(est - exact) <= 0.05 * exact,
      s"HLL estimate $est vs exact $exact drifts beyond 5%")
  }

  test("HLL rank matches a reference leading-zero computation") {
    import spark.implicits._
    val keys = (0 until 256).map(i => s"key-$i").toDF("k")
    val rows = keys.select(col("k"),
        md5(col("k")).as("d"))
      .collect()
    val regs = Sketches.hllRegisters(keys, "k").collect()
      .map(r => r.getAs[Long]("register") -> r.getAs[Long]("rank")).toMap
    // reference recompute on the driver: register = first byte of
    // md5(md5-able key)... the op hashes the RAW key, so recompute that
    val byReg = scala.collection.mutable.Map.empty[Long, Long]
    rows.foreach { r =>
      val d = r.getAs[String]("d")
      val reg = java.lang.Long.parseLong(d.substring(0, 3), 16) % 1024
      val w = java.lang.Long.parseLong(d.substring(3, 15), 16)
      val rank = if (w == 0) 49L else 49L - (64 - java.lang.Long.numberOfLeadingZeros(w))
      byReg(reg) = math.max(byReg.getOrElse(reg, 0L), rank)
    }
    assert(regs === byReg.toMap)
  }

  test("histogram sketch: shard merge equals whole; quantile within one binWidth") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag"),
        col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
    val bw = 4096L
    val whole = Sketches.histogram(li, col("pc"), bw, Seq("l_returnflag"))
    val merged = Sketches.histogramMerge(
      Sketches.histogram(li.filter(col("l_orderkey") % 2 === 0), col("pc"),
        bw, Seq("l_returnflag")),
      Sketches.histogram(li.filter(col("l_orderkey") % 2 =!= 0), col("pc"),
        bw, Seq("l_returnflag")))
    assert(merged.exceptAll(whole).count() === 0L)
    assert(whole.exceptAll(merged).count() === 0L)
    val est = Sketches.histogramQuantile(merged, 0.5, bw, Seq("l_returnflag"))
      .collect().map(r => r.getAs[String]("l_returnflag") -> r.getAs[Double]("est")).toMap
    val exact = li.groupBy("l_returnflag")
      .agg(percentile(col("pc"), lit(0.5)).as("p"))
      .collect().map(r => r.getAs[String]("l_returnflag") -> r.getAs[Double]("p")).toMap
    exact.foreach { case (flag, p) =>
      assert(math.abs(est(flag) - p) <= bw.toDouble,
        s"flag $flag: histogram median ${est(flag)} vs exact $p beyond binWidth $bw")
    }
  }

  test("count-min sketch size is depth x width cells at most, regardless of corpus") {
    val docs = spark.read.parquet(s"$sf/../sf0.001/documents.parquet")
    val toks = docs.select(explode(split(col("text"), "\\s+")).as("tok"))
    val sketch = Sketches.countMinSketch(toks, "tok", depth = 3, width = 64)
    assert(sketch.count() <= 3L * 64)
    // every cell count is positive and the total mass equals depth x tokens
    val mass = sketch.agg(sum("cnt")).head.getLong(0)
    assert(mass === 3L * toks.count())
  }

  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles.toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

  test("compactSmallFiles: 64 fragments bin-pack to the target count with the exact row set") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    docs.repartition(64).write.parquet(s"$tmp/frag")
    val fragFiles = dataFiles(s"$tmp/frag")
    assert(fragFiles.size === 64)
    val smallBytes = fragFiles.map(_.length).sum
    val stats = Layout.compactSmallFiles(spark, s"$tmp/frag", s"$tmp/out",
      targetBytes = math.max(1L, smallBytes / 4),
      smallThresholdBytes = Long.MaxValue)
    assert(stats.filesIn === 64)
    assert(stats.filesKeptAsIs === 0)
    // ⌈bytes/target⌉ with target = bytes/4 requests 4-5 outputs; the
    // file-packing scan may open the fragments as fewer splits (coalesce
    // never splits), so the bound is one-sided: few, and far below 64
    assert(stats.filesWritten >= 1 && stats.filesWritten <= 5,
      s"expected <=5 outputs, got ${stats.filesWritten}")
    assert(dataFiles(s"$tmp/out").size === stats.filesWritten)
    // fidelity: exact multiset of rows survives the rewrite
    val got = spark.read.parquet(s"$tmp/out")
      .groupBy("doc_id").agg(count(lit(1)).as("n"), min("text").as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = docs
      .groupBy("doc_id").agg(count(lit(1)).as("n"), min("text").as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === want)
  }

  test("compactSmallFiles: well-sized files carry over byte-identical, only fragments rewrite") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_mix_").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    // one well-sized file + many fragments, same schema, disjoint rows
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$tmp/in")
    val bigName = dataFiles(s"$tmp/in") match {
      case Seq(f) => f.getName
      case fs => fail(s"expected one coalesced file, got ${fs.size}")
    }
    docs.filter(col("doc_id") % 2 === 1).repartition(16)
      .write.mode("append").parquet(s"$tmp/in")
    val all = dataFiles(s"$tmp/in")
    assert(all.size === 17)
    val big = all.find(_.getName == bigName).get
    // threshold sits between the fragment sizes and the big file's
    val fragMax = all.filterNot(_.getName == bigName).map(_.length).max
    assert(fragMax < big.length, "fixture: fragments must be smaller")
    val stats = Layout.compactSmallFiles(spark, s"$tmp/in", s"$tmp/out",
      targetBytes = Long.MaxValue / 2, // all fragments into one output
      smallThresholdBytes = fragMax + 1)
    assert(stats.filesIn === 17)
    assert(stats.filesKeptAsIs === 1)
    assert(stats.filesWritten === 1)
    // the carried file is byte-identical — never decoded or re-encoded
    val copied = new java.io.File(s"$tmp/out", bigName)
    assert(copied.isFile, "carried file must keep its name in the output")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(big.toPath),
      java.nio.file.Files.readAllBytes(copied.toPath)),
      "carried-over file must be byte-identical")
    // fidelity across the mixed layout
    val got = spark.read.parquet(s"$tmp/out").agg(count(lit(1)),
      sum("doc_id"), sum(length(col("text")).cast("long"))).head
    val want = docs.agg(count(lit(1)),
      sum("doc_id"), sum(length(col("text")).cast("long"))).head
    assert(got === want)
  }

  test("compactSmallFiles: nothing small is a pure carry-over") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_noop_").toString
    spark.read.parquet(s"$sf/documents.parquet").coalesce(2)
      .write.parquet(s"$tmp/in")
    val stats = Layout.compactSmallFiles(spark, s"$tmp/in", s"$tmp/out",
      targetBytes = 1L << 30, smallThresholdBytes = 1L)
    assert(stats.filesWritten === 0)
    assert(stats.filesKeptAsIs === stats.filesIn)
    assert(dataFiles(s"$tmp/out").size === stats.filesIn)
    assert(spark.read.parquet(s"$tmp/out").count() ===
      spark.read.parquet(s"$tmp/in").count())
  }
}
