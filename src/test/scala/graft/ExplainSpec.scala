package graft

/** Plan-regression pins for the top bench queries (VERDICT r7 #6): the
  * verdicts have audited these plans round over round — broadcast below
  * threshold, filters reaching the scan, no quadratic join shapes. A Spark
  * upgrade or an operator refactor must not be able to silently regress
  * them, so the named properties are pinned here. Each query is EXECUTED
  * first so the inspected string contains the AQE-final plan.
  */
class ExplainSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    // collect() (NOT count()) — count() builds a separate query execution,
    // leaving this one's AdaptiveSparkPlan isFinalPlan=false with no
    // codegen/broadcast decisions to inspect
    assert(df.collect().length >= 0)
    df.queryExecution.executedPlan.toString
  }

  private def assertNoQuadraticJoins(name: String, plan: String): Unit = {
    assert(!plan.contains("CartesianProduct"),
      s"$name must not plan a cartesian product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"$name must not plan a nested-loop join:\n$plan")
  }

  /** Executed plans of the queries `action` runs as the Dataset action
    * `funcName` (e.g. "count", or "overwrite" for a write in that mode), from
    * a query listener.
    */
  private def plansOf(funcName: String)(action: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (f == funcName) plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      val deadline = System.nanoTime() + 30000000000L // the bus delivers asynchronously
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(plans).asScala.toSeq
  }

  test("Explain times protection: its action evaluates graft_encrypt, count() prunes it") {
    val q28 = SparkEntry.queries("q28_bulk_protect_aes")
    val timed = plansOf("overwrite")(Explain.run(q28(spark, dir)))
    assert(timed.nonEmpty && timed.forall(_.contains("graft_encrypt")),
      s"Explain's timed action must encrypt:\n${timed.mkString("\n")}")
    // why Explain does not time count(): the row count of q28's one-row
    // aggregate needs no protected value, so the optimizer drops the work
    val counted = plansOf("count")(q28(spark, dir).count())
    assert(counted.nonEmpty && !counted.exists(_.contains("graft_encrypt")),
      s"count() was expected to prune q28's encryption:\n${counted.mkString("\n")}")
  }

  test("q05 multi-join: all dims broadcast, filters pushed to the scans") {
    val plan = executedPlan("q05_multi_join")
    // four dimension joins (orders→customer→nation→region) all broadcast —
    // a shuffled fact-side merge join here would be the 100 TB scale bug
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4,
      s"q05 expects >=4 broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q05 dims must broadcast, not merge-join:\n$plan")
    // the o_orderdate range predicate must reach the parquet scan
    assert(plan.contains("PushedFilters: [IsNotNull"),
      s"q05 scans must push filters:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"q05 must push the o_orderdate range to the orders scan:\n$plan")
    assertNoQuadraticJoins("q05", plan)
  }

  test("s07 LSH near-dup: equality joins only, no quadratic shape") {
    val plan = executedPlan("s07_cosine_neardup_lsh")
    // candidate generation is an equality self-join on (table, bucket) and
    // the verify joins narrow id pairs back to vectors — all hash joins;
    // a nested-loop/cartesian here means the LSH bucketing got bypassed
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"s07 expects hash/merge equality joins:\n$plan")
    assertNoQuadraticJoins("s07", plan)
  }

  test("d13 incremental near-dup: batch-vs-history equality joins, anti-join survivors") {
    val plan = executedPlan("d13_incremental_neardup")
    assert(plan.contains("LeftAnti"),
      s"d13 survivor filtering must be an anti-join:\n$plan")
    assertNoQuadraticJoins("d13", plan)
  }

  test("q48 salted skew join: equality join, no quadratic shape") {
    val plan = executedPlan("q48_skew_salted_join")
    assert(plan.contains("Join type: Inner") || plan.contains("Inner"),
      s"q48 expects an inner equality join:\n$plan")
    assertNoQuadraticJoins("q48", plan)
  }

  test("d07 curation composite: codegen'd, no quadratic join anywhere") {
    val plan = executedPlan("d07_curation_pipeline")
    // codegen spans render as "*(n)" in the executed plan's simpleString
    assert(plan.contains("*("),
      s"d07 stages must stay inside whole-stage codegen:\n$plan")
    assertNoQuadraticJoins("d07", plan)
  }

  test("d21 hashed span stats: the shuffled window key is the 8-byte hash") {
    // the d20→d21 point (VERDICT r7 #3) is shuffle WIDTH: the repeated-
    // window groupBy must key on xxhash64(gram), not the ~50 B raw text
    val df = SparkEntry.queries("d21_repeated_spans_hashed")(spark, dir)
    assert(df.collect().length > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"),
      s"d21 must group repeated windows on xxhash64(gram):\n$plan")
  }

  test("s10 PQ scan: query side broadcast, codebooks as literals, no merge join") {
    val plan = executedPlan("s10_pq_adc")
    // PQ without IVF IS a linear ADC scan — the right plan is the (small
    // by contract) query set broadcast against the encoded corpus; a
    // SortMergeJoin here would shuffle the corpus for no pruning benefit
    assert(plan.contains("BroadcastExchange"),
      s"s10 must broadcast the query set:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"s10 scan must not shuffle the corpus into a merge join:\n$plan")
  }

  test("d22 span removal: one windows explode, residual filter is a HOF projection") {
    // the d22 scale claim (VERDICT r8 #6): the residual text is rebuilt by
    // a per-doc higher-order filter over the token array — NEVER a
    // per-token explode (that would put n_tokens rows per doc through the
    // plan where the windows explode puts n_tokens-k+1 GRAM rows, and the
    // reassembly would need a corpus-wide ordered re-agg). The only
    // Generate allowed is the k-gram windows explode of the spans core
    // (it appears once per consumer of the uncached wins frame).
    val plan = executedPlan("d22_span_removal")
    val generateLines = plan.linesIterator.filter(_.contains("Generate")).toSeq
    assert(generateLines.nonEmpty, s"d22 expects the windows posexplode:\n$plan")
    // every Generate must be the k-gram windows explode (its gram assembly
    // concat_ws is in the generator expression); a bare per-token explode
    // (posexplode(_toks#…)) has no gram assembly and fails both asserts
    generateLines.foreach(l => assert(l.contains("concat_ws"),
      s"d22 has a non-window Generate (per-token explode?):\n$l"))
    assert(!plan.contains("posexplode(_toks") && !plan.contains("explode(_toks"),
      s"d22 must never explode per-token:\n$plan")
    assert(plan.contains("lambdafunction"),
      s"d22 residual reassembly must be a higher-order filter projection:\n$plan")
    assertNoQuadraticJoins("d22", plan)
  }

  test("d24 bloom decontamination: stateless probe filter, broadcast verify join") {
    // the d24 scale claim (VERDICT r8 #6): the clean corpus mass passes
    // through ONE stateless codegen'd bloom-probe Filter (streams, no
    // shuffle); only the suspicious sliver is re-shingled into the exact
    // verify join, whose benchmark side is explicitly broadcast
    val plan = executedPlan("d24_decontamination_bloom")
    assert(plan.contains("any_gram_in_bloom"),
      s"d24 corpus pre-screen must be the native bloom-probe filter:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"d24 verify join must broadcast the benchmark gram side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"d24 must not shuffle the corpus into a merge join:\n$plan")
    assertNoQuadraticJoins("d24", plan)
  }

  test("t22 perplexity gate: corpus plan is a pure filter — no Window, no global sort") {
    // the t22 scale claim (VERDICT r8 #6): the quantile threshold comes
    // from a bounded histogram job (its single-partition window runs over
    // ≤10⁶+1 histogram rows, never the corpus) and crosses the driver as
    // one long — so the RETURNED corpus plan must be score + filter only:
    // no Window node, no single-partition exchange, no corpus-wide rank
    val df = graft.ops.TextOps.bigramLmFilter(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      dropPct = 25)
    assert(df.collect().length > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"t22 corpus plan must not rank/window the corpus:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"t22 corpus plan must not funnel into one partition:\n$plan")
    assertNoQuadraticJoins("t22", plan)
  }

  test("s04 IVF exact: kernel assignment projection, broadcast probe + list joins") {
    // the s04 rebuild's plan contract (VERDICT r9 #5): assignment must be a
    // pure projection through the native argmin kernel (no n×nlist join
    // materializes), the list scan must reach the corpus through an
    // equality broadcast-hash join on cid, and the only nested-loop shape
    // allowed is the bounded queries×centroids probe (queries join a
    // broadcast of nlist centroid rows)
    val plan = executedPlan("s04_ann_ivf")
    assert(plan.contains("argmin_l2_centroid"),
      s"s04 assignment must be the native argmin kernel projection:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"s04 list scan must be a broadcast-hash equality join on cid:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"s04 probes/scan must broadcast, not merge-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"s04 must not plan a cartesian product:\n$plan")
    // the AQE toString prints the final AND initial plans — count the
    // nested-loop probes only in the final section
    val finalSection = plan.split("== Initial Plan ==").head
    assert("BroadcastNestedLoopJoin".r.findAllIn(finalSection).size <= 1,
      s"s04 allows only the bounded queries×centroids probe as a " +
        s"nested-loop join:\n$plan")
  }

  test("s02 exact hyperplane: kernel bucketing, broadcast probes, equality joins") {
    // the s02 exact rebuild (VERDICT r9 #6): bucketing is the native
    // integer-sig kernel inside a projection (the corpus explodes once into
    // (table, bucket) cells), the query probes broadcast into ONE equality
    // candidate join, and nothing plans a quadratic shape
    val plan = executedPlan("s02_ann_hyperplane")
    assert(plan.contains("hyperplane_sig_exact"),
      s"s02 bucketing must be the native exact-sig kernel:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"s02 candidate generation must broadcast the probe side:\n$plan")
    assertNoQuadraticJoins("s02", plan)
  }

  test("d03 cache-layout pin: present iff the session coalesces byte-driven") {
    // Plan-pin BOTH branches of Dedup.pinCacheLayout's conditional (VERDICT
    // r12 #5): the pin is a repartition-by-doc_id of the cached shingle
    // table, applied ONLY when AQE's coalescing is byte-driven
    // (parallelismFirst=false — the regime where AQE coalesces the cache
    // into deserialize-fat partitions) or when a FromCorpus operator forces
    // it at PinLayoutMinDocs+ docs. A future AQE default change that
    // silently inverted the trade must fail here, not in a 100× bench run. The
    // RepartitionByExpression node is asserted on the ANALYZED plan — the
    // cache substitutes an InMemoryRelation into the physical plan, but
    // the logical tree still carries the operator's own shape.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def analyzedPlan(): String = {
      spark.catalog.clearCache() // each build caches its shingle table
      val df = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
        threshold = 0.8)
      val plan = df.queryExecution.analyzed.toString
      spark.catalog.clearCache()
      plan
    }
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val before = spark.conf.getOption(key)
    try {
      // default session (parallelism-first coalescing), demo corpus far
      // below PinLayoutMinDocs: AQE guards the layout, the pin must NOT
      // pay 32-task fixed costs on kilobyte partitions (+40-50 % measured)
      spark.conf.set(key, "true")
      val unpinned = analyzedPlan()
      assert(!unpinned.contains("RepartitionByExpression"),
        s"d03 must not pin the cache layout under parallelism-first AQE " +
          s"below PinLayoutMinDocs:\n$unpinned")
      // byte-driven coalescing (the compute-dense session the 100× rows
      // tune): AQE stops guarding parallelism, so the operator must
      spark.conf.set(key, "false")
      val pinned = analyzedPlan()
      assert(pinned.contains("RepartitionByExpression"),
        s"d03 must pin the cache layout by doc_id under byte-driven AQE " +
          s"coalescing:\n$pinned")
    } finally {
      before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("d03 cache-layout pin: the auto forms' force override pins at any session") {
    // the third branch: force=true (what a FromCorpus operator passes at
    // PinLayoutMinDocs+ docs) pins regardless of the AQE policy — measured
    // at 100× as the 26.2→21.9 s win on d03's corpus-sized form
    spark.catalog.clearCache()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
      threshold = 0.8, pinLayout = true)
    val plan = df.queryExecution.analyzed.toString
    spark.catalog.clearCache()
    assert(plan.contains("RepartitionByExpression"),
      s"pinLayout=true must repartition the shingle cache by doc_id:\n$plan")
  }

  test("s11 IVF-PQ: the list scan is an equality broadcast-hash join on cid") {
    // THE IVF point: the scan must touch only probed lists via an equality
    // join on cid — if this degrades to a nested-loop/cartesian against
    // the whole corpus, the index is being bypassed (the probe ranking
    // itself is queries×nlist over a broadcast of nlist rows — bounded)
    val plan = executedPlan("s11_ivfpq")
    assert(plan.contains("BroadcastHashJoin"),
      s"s11 list scan must be a broadcast-hash equality join on cid:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"s11 must not plan a cartesian product:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"s11 probes/scan must broadcast, not merge-join:\n$plan")
  }

  test("t23 CMS: sketch aggregation is partial (map-side combine), probe joins broadcast") {
    // THE sketch point: the corpus-sized token stream must collapse to
    // depth×width cells BEFORE the exchange — a final-only aggregation
    // would shuffle every token occurrence. Two HashAggregate phases per
    // aggregation (partial + final) and no merge join anywhere.
    val plan = executedPlan("t23_heavy_hitters_cms")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"t23 expects partial+final hash aggregations:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"t23 sketch probe must be a broadcast join:\n$plan")
    assertNoQuadraticJoins("t23", plan)
    assert(!plan.contains("SortMergeJoin"),
      s"t23's only join is the depth×width-cell sketch probe — it must broadcast:\n$plan")
  }

  test("q50 z-order key: pure projection + top-k, no full sort, no join") {
    // the key computation is codegen'd bit arithmetic in the scan's
    // projection; ORDER BY + LIMIT must plan as TakeOrderedAndProject
    // (per-partition heaps), never a global Sort
    val plan = executedPlan("q50_zorder_key")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q50 must plan ORDER BY+LIMIT as top-k, not a global sort:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"q50 is a single-table projection — no joins:\n$plan")
    // executedPlan.toString renders a whole-stage-codegen'd operator with a
    // "*(stageId)" prefix (e.g. "*(1) Project"), not the word itself
    assert(plan.contains("*(1) Project"),
      s"q50's bit arithmetic must stay inside whole-stage codegen:\n$plan")
  }

  test("q53 hive-partitioned layout: the year predicate prunes partitions at planning time") {
    // the o_year = 1997 predicate must be a PARTITION filter (directories
    // never listed/opened), not a data filter evaluated per row — at 100 TB
    // this is the difference between reading one year and reading seven
    val plan = executedPlan("q53_partition_pruned_scan")
    assert("PartitionFilters: \\[[^\\]]*o_year[^\\]]*= 1997\\)"
        .r.findFirstIn(plan).nonEmpty,
      s"q53 must plan o_year = 1997 as a partition filter:\n$plan")
    // nothing left for per-row evaluation: the scan's data-filter and
    // pushed-filter slots stay empty (the partition column never reaches
    // row-level filtering)
    assert(plan.contains("DataFilters: []"),
      s"q53's scan must not re-evaluate the year per row:\n$plan")
    assert(plan.contains("PushedFilters: []"),
      s"q53 has no residual row-group predicate to push:\n$plan")
  }

  test("t26 KMV: bounded-buffer aggregation, one sketch exchange, 1x1 cross only") {
    val plan = executedPlan("t26_kmv_theta")
    // the three sketches (whole + both shards) ride ONE ObjectHashAggregate
    // pair — partial map-side, a single exchange whose payload is <= 3*k
    // longs per task, final merge; a SortAggregate here would mean the
    // imperative buffer fell off the object-hash path (sorting
    // corpus-sized rows for a k-bounded sketch)
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"t26's sketch agg must be the partial+final ObjectHashAggregate pair:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"t26 must not fall back to sort-based aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"t26 must not plan a cartesian product:\n$plan")
    // the only nested-loop join is the documented cross of two LITERALLY
    // one-row aggregates (sketches x exact refs) — more than one means a
    // data-sized frame leaked into the cross (count the AQE FINAL plan
    // only: the adaptive toString appends an "== Initial Plan ==" section
    // that would double every operator)
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size == 1,
      s"t26 expects exactly the one 1x1 bounded cross:\n$plan")
  }

  test("t27 grouped KMV: object-hash partials per source, broadcast exact join") {
    val plan = executedPlan("t27_kmv_grouped")
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"t27's grouped sketch must be the partial+final ObjectHashAggregate pair:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"t27 must not fall back to sort-based aggregation:\n$plan")
    // 20 sketch rows join 20 exact rows — broadcast hash, never a
    // shuffled merge join
    assert(plan.contains("BroadcastHashJoin"),
      s"t27's sketch-exact join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"t27 must not merge-join two 20-row frames:\n$plan")
    assertNoQuadraticJoins("t27", plan)
  }
}
