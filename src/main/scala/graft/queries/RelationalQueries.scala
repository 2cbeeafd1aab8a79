package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The relational query surface (SURVEY.md §2.5): every category the driver's
  * DuckDB oracle exercises, expressed declaratively so Catalyst plans them
  * (predicate pushdown, broadcast joins, AQE) — no hand-scheduling.
  *
  * Determinism discipline for oracle hash-matching:
  *  - money/double aggregates run in exact integer spaces (cents / basis
  *    points) — `SUM(round(x*100)::BIGINT)` is order-independent and
  *    bit-identical across engines, unlike floating-point summation;
  *  - every ORDER BY carries a unique tie-break key;
  *  - timestamps leave outputs as formatted strings or extracted ints.
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  private def rd(s: SparkSession, dir: String, n: String): DataFrame =
    GraftTables.read(s, dir, n)

  import QueryUtil.{cents, pctInt, centsSql}

  /** name → (spark impl, oracle sql). Insertion order preserved. */
  val registry: Vector[(String, Q, Option[String])] = Vector(

    // ---------------------------------------------------------------- scans
    ("q01_pricing_summary", (s: SparkSession, dir: String) => {
      rd(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - pctInt(col("l_discount"))))
            .as("revenue_u"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(s"""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_price_cents,
        CAST(SUM(${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})) AS BIGINT) AS revenue_u,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),

    ("q02_filter_project", (s: SparkSession, dir: String) => {
      rd(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_discount > 0.05
      ORDER BY l_orderkey, l_linenumber""")),

    // ---------------------------------------------------------------- joins
    ("q03_join_agg", (s: SparkSession, dir: String) => {
      rd(s, dir, "orders").join(rd(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("c_mktsegment")
    }, Some(s"""
      SELECT c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS total_cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    ("q04_broadcast_join", (s: SparkSession, dir: String) => {
      rd(s, dir, "lineitem")
        .join(broadcast(rd(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("p_brand")
    }, Some("""
      SELECT p_brand,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        COUNT(DISTINCT l_orderkey) AS n_orders
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""")),

    ("q05_multi_join", (s: SparkSession, dir: String) => {
      val li = rd(s, dir, "lineitem")
      val o = rd(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val c = rd(s, dir, "customer")
      val n = broadcast(rd(s, dir, "nation"))
      val r = broadcast(rd(s, dir, "region"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - pctInt(col("l_discount"))))
          .as("revenue_u"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }, Some(s"""
      SELECT r_name, n_name,
        CAST(SUM(${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})) AS BIGINT) AS revenue_u,
        COUNT(*) AS n_items
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    ("q06_semi_join", (s: SparkSession, dir: String) => {
      rd(s, dir, "customer")
        .join(rd(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }, Some("""
      SELECT c_mktsegment, COUNT(*) AS n_customers
      FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    ("q07_anti_join", (s: SparkSession, dir: String) => {
      val urgent = rd(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      rd(s, dir, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }, Some("""
      SELECT c_mktsegment, COUNT(*) AS n_customers
      FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // -------------------------------------------------------------- windows
    ("q08_window_rank", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      rd(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        // coalesce: the only nullable BIGINT output in the registry tripped
        // the driver's row-hash (nullable int64 parquet -> pandas float64+NaN)
        // while sorted value-compare passed; sentinel keeps the column NOT NULL.
        .withColumn("prev_cents",
          coalesce(lag(cents(col("o_totalprice")), 1).over(w), lit(-1L)))
        .withColumn("run_cents",
          sum(cents(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"),
          col("prev_cents"), col("run_cents"))
        .orderBy("o_custkey", "rn")
    }, Some(s"""
      SELECT o_custkey, o_orderkey, rn, prev_cents, run_cents FROM (
        SELECT o_custkey, o_orderkey,
          ROW_NUMBER() OVER w AS rn,
          COALESCE(LAG(${centsSql("o_totalprice")}, 1) OVER w, -1) AS prev_cents,
          -- DuckDB window SUM(BIGINT) returns HUGEINT (-> pandas float64);
          -- cast back so the driver's type-sensitive hash sees int64 like Spark.
          CAST(SUM(${centsSql("o_totalprice")}) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ) WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // Distribution window functions: ntile buckets, percent_rank and
    // cume_dist — both engines define them by the same single-division
    // formulas ((rank−1)/(n−1), peers≤current/n), so the doubles are
    // bit-identical. Unique (cents, orderkey) ordering keeps every rank
    // deterministic; the %-97 pre-filter bounds rows, applied identically
    // on both sides BEFORE the window.
    ("q42_window_distribution", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(cents(col("o_totalprice")), col("o_orderkey"))
      rd(s, dir, "orders")
        .filter(col("o_orderkey") % 97 === 0)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .select(col("o_orderkey"), col("o_orderpriority"), col("quartile"),
          col("pct_rank"), col("cume"))
        .orderBy("o_orderkey")
    }, Some(s"""
      SELECT o_orderkey, o_orderpriority,
        CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        PERCENT_RANK() OVER w AS pct_rank,
        CUME_DIST() OVER w AS cume
      FROM orders
      WHERE o_orderkey % 97 = 0
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY ${centsSql("o_totalprice")}, o_orderkey)
      ORDER BY o_orderkey""")),

    // Higher-order array functions over the embedding column — the lambda
    // surface (filter/transform/aggregate/array_max) kept codegen-friendly
    // and exact: every scalar leaves the lambda as a fixed-point BIGINT, so
    // DuckDB's list_* functions reproduce each value bit-for-bit.
    ("q43_array_hof", (s: SparkSession, dir: String) => {
      val e = col("embedding")
      val q = transform(e, x =>
        round(x.cast("double") * lit(10000)).cast("long"))
      rd(s, dir, "embeddings")
        .select(col("vec_id"),
          size(filter(e, x => x > lit(0f))).cast("long").as("n_pos"),
          aggregate(q, lit(0L), (acc, x) => acc + abs(x)).as("l1_q"),
          array_max(q).as("max_q"),
          (array_max(q) - array_min(q)).as("range_q"))
        .orderBy("vec_id")
    }, Some("""
      WITH q AS (SELECT vec_id, embedding,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS qv
        FROM embeddings)
      SELECT vec_id,
        CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1_q,
        CAST(list_max(qv) AS BIGINT) AS max_q,
        CAST(list_max(qv) - list_min(qv) AS BIGINT) AS range_q
      FROM q ORDER BY vec_id""")),

    // Consecutive-duplicate collapse (state-change log compression): per
    // user, keep an event only when its type differs from the previous
    // event's — the lag-window dedup every event pipeline runs before
    // sessionization. One shuffle on the window key.
    ("q44_dedup_consecutive", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      rd(s, dir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id")
    }, Some("""
      WITH w AS (SELECT event_id, user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pt
        FROM events)
      SELECT event_id, user_id, event_type FROM w
      WHERE pt IS NULL OR pt <> event_type
      ORDER BY event_id""")),

    // CDC MERGE/upsert without a table format: apply a change batch (latest
    // change per key wins, deterministic via the orderkey tie-break) to a
    // target dimension with a FULL OUTER join, emitting the merge delta
    // tagged insert/update. Scale shape: an upsert into an unbucketed
    // target inherently shuffles both sides on the key — bucketing the
    // target by key on a real cluster removes its sort+shuffle; the change
    // batch is small and AQE picks its side accordingly.
    ("q45_merge_upsert", (s: SparkSession, dir: String) => {
      val target = rd(s, dir, "customer").select(
        col("c_custkey").as("key_t"), cents(col("c_acctbal")).as("bal_cents"),
        lit(1).as("t_mark"))
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderkey").desc)
      val latest = rd(s, dir, "orders")
        .filter(col("o_orderkey") % 50 === 0)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey").as("key_c"),
          cents(col("o_totalprice")).as("new_bal"))
      // updates for existing keys + synthetic inserts at key+10M (a key
      // range the dimension does not occupy)
      val changes = latest.unionAll(
          latest.select(col("key_c") + lit(10000000L), col("new_bal")))
        .withColumn("c_mark", lit(1))
      target.join(changes, col("key_t") === col("key_c"), "full_outer")
        .select(coalesce(col("key_t"), col("key_c")).as("key"),
          coalesce(col("new_bal"), col("bal_cents")).as("bal_cents"),
          when(col("t_mark").isNull, "insert")
            .when(col("c_mark").isNull, "keep").otherwise("update")
            .as("action"))
        .filter(col("action") =!= "keep")
        .orderBy("key")
    }, Some(s"""
      WITH latest AS (
        SELECT key_c, new_bal FROM (
          SELECT o_custkey AS key_c,
            ${centsSql("o_totalprice")} AS new_bal,
            row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey DESC) AS rn
          FROM orders WHERE o_orderkey % 50 = 0) WHERE rn = 1),
      changes AS (
        SELECT key_c, new_bal, 1 AS c_mark FROM latest
        UNION ALL SELECT key_c + 10000000, new_bal, 1 FROM latest),
      target AS (SELECT c_custkey AS key_t,
          ${centsSql("c_acctbal")} AS bal_cents, 1 AS t_mark
        FROM customer)
      SELECT * FROM (
        SELECT COALESCE(t.key_t, c.key_c) AS key,
          COALESCE(c.new_bal, t.bal_cents) AS bal_cents,
          CASE WHEN t.t_mark IS NULL THEN 'insert'
               WHEN c.c_mark IS NULL THEN 'keep' ELSE 'update' END AS action
        FROM target t FULL OUTER JOIN changes c ON t.key_t = c.key_c)
      WHERE action <> 'keep' ORDER BY key""")),

    // SCD2 history build: collapse the per-user event-type log to state
    // CHANGES, then stamp each state with [valid_from, valid_to) validity
    // micros and an is_current flag — the slowly-changing-dimension shape
    // every warehouse derives from a change stream. Both windows share the
    // user_id partitioning (filter preserves it), so the whole query is ONE
    // shuffle.
    ("q46_scd2_history", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val changes = rd(s, dir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
        .select(col("user_id"), col("event_type").as("state"),
          unix_micros(col("ts")).as("valid_from_us"), col("event_id"))
      val w2 = Window.partitionBy("user_id")
        .orderBy(col("valid_from_us"), col("event_id"))
      changes
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w2))
        .withColumn("is_current", col("valid_to_us").isNull.cast("long"))
        .orderBy("user_id", "valid_from_us", "event_id")
    }, Some("""
      WITH c AS (
        SELECT user_id, event_type AS state, epoch_us(ts) AS valid_from_us,
          event_id,
          lag(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pt
        FROM events),
      s AS (SELECT user_id, state, valid_from_us, event_id FROM c
            WHERE pt IS NULL OR pt <> state)
      SELECT user_id, state, valid_from_us, event_id,
        lead(valid_from_us) OVER w2 AS valid_to_us,
        CAST(CASE WHEN lead(valid_from_us) OVER w2 IS NULL
             THEN 1 ELSE 0 END AS BIGINT) AS is_current
      FROM s
      WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from_us, event_id)
      ORDER BY user_id, valid_from_us, event_id""")),

    // Ordered conversion funnel: users who signed up, then clicked within
    // 24 h, then purchased within 24 h of that click. Each stage is a
    // per-user MIN over the prior stage's survivors — all three groupBys
    // and both joins key on user_id, so the exchange is planned once and
    // reused; counts are the only rows that leave the executors.
    ("q47_funnel", (s: SparkSession, dir: String) => {
      val winUs = 86400000000L // 24 h conversion window, micros
      val ev = rd(s, dir, "events").select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("tus")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("tus") > col("t1") && col("tus") <= col("t1") + winUs)
        .groupBy("user_id").agg(min(col("tus")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("tus") > col("t2") && col("tus") <= col("t2") + winUs)
        .groupBy("user_id").agg(min(col("tus")).as("t3"))
      s1.agg(count(lit(1)).as("n_users"))
        .select(lit("1_signup").as("stage"), col("n_users"))
        .unionAll(s2.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("stage"), col("n_users")))
        .unionAll(s3.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("stage"), col("n_users")))
        .orderBy("stage")
    }, Some("""
      WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
      s1 AS (SELECT user_id, min(tus) AS t1 FROM ev
             WHERE event_type = 'signup' GROUP BY user_id),
      s2 AS (SELECT e.user_id, min(tus) AS t2 FROM ev e JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND tus > t1
               AND tus <= t1 + 86400000000 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(tus) AS t3 FROM ev e JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND tus > t2
               AND tus <= t2 + 86400000000 GROUP BY e.user_id)
      SELECT stage, n_users FROM (
        SELECT '1_signup' AS stage, count(*) AS n_users FROM s1
        UNION ALL SELECT '2_click', count(*) FROM s2
        UNION ALL SELECT '3_purchase', count(*) FROM s3)
      ORDER BY stage""")),

    // Salted skew join (SURVEY §8 → registry, r6 ask #5): the manual remedy
    // for a hot key that AQE's skew split can't fix — large side salted by
    // a deterministic row-hash, small side replicated factor×. Output must
    // equal the PLAIN inner join exactly, which is precisely what the
    // oracle pins (the salt is an execution detail, invisible in the
    // result).
    ("q48_skew_salted_join", (s: SparkSession, dir: String) => {
      import graft.operators.SkewJoin
      val li = rd(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice")
      val supp = rd(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      SkewJoin.saltedInner(li, supp, "l_suppkey", "s_suppkey", factor = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"))
        .orderBy("s_nationkey")
    }, Some(s"""
      SELECT s_nationkey, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_price_cents
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // Bucketed co-located join (SURVEY §8 → registry, r6 ask #5): both
    // sides written bucketed+sorted on the join key, so the sort-merge join
    // runs with NO shuffle exchange (ScaleOpsSpec pins the plan shape;
    // broadcast is disabled here so the bucketed path is actually planned).
    // The oracle pins the result over the raw parquet — bucketing is
    // storage layout, invisible in the output.
    ("q49_bucketed_join", (s: SparkSession, dir: String) => {
      def bucketize(df: DataFrame, key: String, tbl: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        // the in-memory catalog forgets tables across JVMs but their files
        // remain — clear the managed location or saveAsTable refuses
        val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        val p = java.nio.file.Paths.get(wh, tbl)
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.delete)
        }
        df.write.mode("overwrite").bucketBy(8, key).sortBy(key).saveAsTable(tbl)
      }
      bucketize(rd(s, dir, "orders")
        .select("o_custkey", "o_totalprice"), "o_custkey", "q49_orders")
      bucketize(rd(s, dir, "customer")
        .select("c_custkey", "c_mktsegment"), "c_custkey", "q49_customer")
      // MERGE hint (not a session-conf toggle, which a lazy DataFrame would
      // outlive): forces the sort-merge plan so the bucketed layout — not a
      // broadcast — is what executes; with both sides bucketed+sorted on
      // the key it runs exchange-free
      s.table("q49_orders").hint("merge")
        .join(s.table("q49_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("c_mktsegment")
    }, Some(s"""
      SELECT c_mktsegment, COUNT(*) AS n,
        CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS total_cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Z-order (Morton) clustering key — the write-side layout primitive for
    // multi-dimension scan pruning (graft.ops.Layout; the locality /
    // file-skipping property itself is spec-gated in OpsSpec, where a box
    // query over a zorderWrite layout is shown to skip most files while a
    // single-column sort skips none on the second dimension). The oracle
    // replays the five mask-shift spread stages in SQL, so a drifted mask,
    // shift, or interleave order hash-fails. Top-200 under (zkey, rowid)
    // keeps the output deterministic and SF-independent.
    ("q50_zorder_key", (s: SparkSession, dir: String) => {
      import graft.ops.Layout
      rd(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          Layout.zorderKey(pmod(col("l_partkey"), lit(65536)),
            pmod(col("l_suppkey"), lit(65536))).as("zkey"))
        .orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))
        .limit(200)
    }, Some(s"""
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        CAST(${graft.ops.Layout.zorderKeySql("l_partkey % 65536",
          "l_suppkey % 65536")} AS BIGINT) AS zkey
      FROM lineitem
      ORDER BY zkey, l_orderkey, l_linenumber LIMIT 200""")),

    // The z-order WRITER's data fidelity through the oracle gate: q50 pins
    // the key computation; this row pins that zorderWrite (range exchange +
    // within-file sort + parquet round trip) preserves the row set exactly
    // — a dropped/duplicated row under repartitionByRange would shift a
    // bucket's count or checksum. Buckets are zkey residue classes (top
    // bits would collapse to one bucket at small SFs' narrow key domains),
    // so the aggregate stays 64 compact rows at any SF while every row
    // contributes to a count and two checksums.
    ("q51_zorder_write_fidelity", (s: SparkSession, dir: String) => {
      import graft.ops.Layout
      val tmp = QueryUtil.scratchDir("graft_q51_")
      Layout.zorderWrite(
        rd(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        Seq(pmod(col("l_partkey"), lit(65536)), pmod(col("l_suppkey"), lit(65536))),
        tmp, numFiles = 16)
      s.read.parquet(tmp)
        .groupBy(pmod(col("zkey"), lit(64)).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("ok_sum"),
          sum(col("zkey")).as("zkey_sum"))
        .orderBy("zbucket")
    }, Some(s"""
      WITH z AS (SELECT l_orderkey,
        CAST(${graft.ops.Layout.zorderKeySql("l_partkey % 65536",
          "l_suppkey % 65536")} AS BIGINT) AS zkey
      FROM lineitem)
      SELECT zkey % 64 AS zbucket, COUNT(*) AS n,
        CAST(SUM(l_orderkey) AS BIGINT) AS ok_sum,
        CAST(SUM(zkey) AS BIGINT) AS zkey_sum
      FROM z GROUP BY 1 ORDER BY zbucket""")),

    // The READ side of the z-order story through the oracle gate (r14 —
    // closes the BIGMIN item the module named): a 2-D box query answered by
    // reading ONLY the files the SPLIT Z-range cover (Layout.zorderRanges,
    // quadrant-recursion BIGMIN form) keeps — the aggregate must equal
    // DuckDB's over the FULL table, so a split cover that drops a file
    // containing box rows hash-fails (soundness through the data, not just
    // the spec). The gate bit pins that the split cover never reads more
    // files than the coarse one-range envelope; the strict seam-box
    // improvement is pinned in LayoutSpec where the key domain is wide
    // enough to matter.
    ("q52_zorder_pruned_scan", (s: SparkSession, dir: String) => {
      import graft.ops.Layout
      val tmp = QueryUtil.scratchDir("graft_q52_")
      Layout.zorderWrite(
        rd(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        Seq(pmod(col("l_partkey"), lit(65536)), pmod(col("l_suppkey"), lit(65536))),
        tmp, numFiles = 16)
      val (aLo, aHi, bLo, bHi) = (64L, 1600L, 16L, 72L)
      // both covers from ONE footer-stats pass (guide §6 — planning reads
      // metadata, not the table)
      val (coarse, split, _) =
        Layout.zorderFiles(s, tmp, Seq((aLo, aHi), (bLo, bHi)))
      s.read.parquet(split: _*)
        .filter(pmod(col("l_partkey"), lit(65536)).between(aLo, aHi) &&
          pmod(col("l_suppkey"), lit(65536)).between(bLo, bHi))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("ok_sum"),
          sum(col("l_partkey") * 100000 + col("l_suppkey")).as("ps_sum"))
        .select(col("n"), col("ok_sum"), col("ps_sum"),
          lit(if (split.size <= coarse.size) 1L else 0L).as("split_no_worse"))
    }, Some("""
      SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS ok_sum,
        CAST(SUM(l_partkey * 100000 + l_suppkey) AS BIGINT) AS ps_sum,
        CAST(1 AS BIGINT) AS split_no_worse
      FROM lineitem
      WHERE l_partkey % 65536 BETWEEN 64 AND 1600
        AND l_suppkey % 65536 BETWEEN 16 AND 72""")),

    // Hive-style partitioned layout + partition-pruned scan — the FIRST
    // pruning lever on a 100 TB table (z-order's file skipping composes
    // below it within a partition). The write derives a low-cardinality
    // partition column (order year, 7 values at any SF) so the directory
    // fan-out stays bounded; the read's `o_year = 1997` predicate is a
    // pure partition filter — the scan plans ONLY that directory, never
    // listing or opening the other years' files (ExplainSpec pins
    // `PartitionFilters` + `PartitionCount: 1` on exactly this plan shape).
    // The oracle recomputes the same aggregate over the FULL table with the
    // same year predicate, so a row lost to (or leaked from) a wrong
    // partition hash-fails through the data.
    ("q53_partition_pruned_scan", (s: SparkSession, dir: String) => {
      val tmp = QueryUtil.scratchDir("graft_q53_")
      rd(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("o_year") === 1997)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n,
        CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS total_cents
      FROM orders WHERE year(o_orderdate) = 1997
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Small-file compaction (Layout.compactSmallFiles) through the oracle
    // gate: a deliberately fragmented copy of `documents` (64 shards) is
    // bin-packed back to ⌈bytes/target⌉ files — fragments coalesce WITHOUT
    // a shuffle, well-sized files carry over unread — and the compacted
    // directory must reproduce DuckDB's residue-class counts/checksums
    // over the original table, so a row dropped or duplicated by the
    // rewrite hash-fails. The `compacted` flag pins that the file count
    // actually fell; the byte-identity of carried-over files and the
    // mixed small/large split are pinned in LayoutSpec.
    ("q54_compact_small_files", (s: SparkSession, dir: String) => {
      import graft.ops.Layout
      val tmp = QueryUtil.scratchDir("graft_q54_")
      rd(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(s"$tmp/frag")
      val smallBytes = {
        val p = new org.apache.hadoop.fs.Path(s"$tmp/frag")
        val fs = p.getFileSystem(s.sessionState.newHadoopConf())
        fs.listStatus(p).filter(f => f.isFile &&
          !f.getPath.getName.startsWith("_")).map(_.getLen).sum
      }
      val stats = Layout.compactSmallFiles(s, s"$tmp/frag", s"$tmp/out",
        targetBytes = math.max(1L, smallBytes / 4),
        smallThresholdBytes = Long.MaxValue)
      s.read.parquet(s"$tmp/out")
        .groupBy(pmod(col("doc_id"), lit(64)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text")).cast("long")).as("chars_sum"))
        .withColumn("compacted",
          lit(if (stats.filesWritten + stats.filesKeptAsIs < stats.filesIn) 1L
              else 0L))
        .orderBy("bucket")
    }, Some("""
      SELECT doc_id % 64 AS bucket, COUNT(*) AS n,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        CAST(SUM(length(text)) AS BIGINT) AS chars_sum,
        CAST(1 AS BIGINT) AS compacted
      FROM documents GROUP BY 1 ORDER BY bucket""")),

    // 3-D Morton clustering key (r14): the multi-dimension layout key for
    // the common (date, customer, part)-style table where box queries
    // constrain any subset of three dimensions. The oracle replays all six
    // mask-shift spread stages × three coordinates in SQL — a drifted
    // mask, shift, or interleave lane hash-fails. Top-200 under
    // (zkey3, l_orderkey, l_linenumber) keeps the output deterministic and
    // SF-independent; the driver-side twin + exact inverse are pinned in
    // LayoutSpec (grid + random round trips).
    ("q55_zorder3_key", (s: SparkSession, dir: String) => {
      import graft.ops.Layout
      rd(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          Layout.zorderKey(pmod(col("l_partkey"), lit(65536)),
            pmod(col("l_suppkey"), lit(65536)),
            pmod(col("l_orderkey"), lit(65536))).as("zkey3"))
        .orderBy(col("zkey3"), col("l_orderkey"), col("l_linenumber"))
        .limit(200)
    }, Some(s"""
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        CAST(${graft.ops.Layout.zorderKey3Sql("l_partkey % 65536",
          "l_suppkey % 65536", "l_orderkey % 65536")} AS BIGINT) AS zkey3
      FROM lineitem
      ORDER BY zkey3, l_orderkey, l_linenumber LIMIT 200""")),

    // The 3-D BIGMIN read path through the oracle gate (r15 — closes the
    // "3-D key has no split read path" item): a 3-D box query over a
    // three-key zorderWrite layout answered by reading ONLY the files the
    // octant-recursion split cover (Layout.zorderRanges) keeps — the aggregate
    // must equal DuckDB's over the FULL table, so a cover that drops a file
    // containing box rows hash-fails through the data. The gate bit pins
    // split ≤ coarse; the strict seam-box improvement, exact-cover volume,
    // and the 3-D-specific split-budget soundness are pinned in LayoutSpec.
    ("q56_zorder3_pruned_scan", (s: SparkSession, dir: String) => {
      import graft.ops.Layout
      val tmp = QueryUtil.scratchDir("graft_q56_")
      Layout.zorderWrite(
        rd(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        Seq(pmod(col("l_partkey"), lit(65536)), pmod(col("l_suppkey"), lit(65536)),
          pmod(col("l_orderkey"), lit(65536))), tmp, numFiles = 16)
      val (aLo, aHi, bLo, bHi, cLo, cHi) =
        (64L, 1600L, 16L, 72L, 256L, 16384L)
      // both covers from ONE footer-stats pass (see q52)
      val (coarse, split, _) =
        Layout.zorderFiles(s, tmp, Seq((aLo, aHi), (bLo, bHi), (cLo, cHi)))
      // an empty keep-set means the box misses every file's key range; a
      // varargs-empty parquet read would throw an opaque error instead
      require(split.nonEmpty,
        s"3-D split cover kept no files for box a=[$aLo,$aHi] b=[$bLo,$bHi] c=[$cLo,$cHi]")
      s.read.parquet(split: _*)
        .filter(pmod(col("l_partkey"), lit(65536)).between(aLo, aHi) &&
          pmod(col("l_suppkey"), lit(65536)).between(bLo, bHi) &&
          pmod(col("l_orderkey"), lit(65536)).between(cLo, cHi))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("ok_sum"),
          sum(col("l_partkey") * 100000 + col("l_suppkey")).as("ps_sum"))
        .select(col("n"), col("ok_sum"), col("ps_sum"),
          lit(if (split.size <= coarse.size) 1L else 0L).as("split_no_worse"))
    }, Some("""
      SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS ok_sum,
        CAST(SUM(l_partkey * 100000 + l_suppkey) AS BIGINT) AS ps_sum,
        CAST(1 AS BIGINT) AS split_no_worse
      FROM lineitem
      WHERE l_partkey % 65536 BETWEEN 64 AND 1600
        AND l_suppkey % 65536 BETWEEN 16 AND 72
        AND l_orderkey % 65536 BETWEEN 256 AND 16384""")),

    // The TWO pruning levers COMPOSED in one row (r15 — q53 proved
    // partition pruning, q52 z-order file skipping; this row proves they
    // stack, which is the 100 TB read path end-to-end): lineitem written
    // Hive-partitioned by ship year AND z-ordered by (part, supp) within
    // each partition (Layout.zorderWrite's partitionBy — one range exchange).
    // The read takes lever 1 by planning a year-filtered scan whose
    // executed plan must carry the predicate as a PartitionFilter with
    // empty Data/PushedFilters (the `partition_pruned` bit re-checks q53's
    // ExplainSpec pin on THIS layout), then lever 2 by BIGMIN-splitting the
    // box inside the surviving partition directory — `files_pruned` pins
    // that fewer files are read than the partition holds, i.e. z-order
    // still bites below partitioning. The aggregate must equal DuckDB's
    // over the FULL table with both predicates, so a row lost to either
    // lever hash-fails through the data.
    ("q57_partition_zorder_composed", (s: SparkSession, dir: String) => {
      import graft.ops.Layout
      val tmp = QueryUtil.scratchDir("graft_q57_")
      Layout.zorderWrite(
        rd(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_shipdate"))
          .withColumn("l_year", year(col("l_shipdate"))),
        Seq(pmod(col("l_partkey"), lit(65536)), pmod(col("l_suppkey"), lit(65536))),
        tmp, numFiles = 64, partitionBy = Some("l_year"))
      // lever 1: the year predicate plans as a partition filter — nothing
      // left for per-row evaluation (the same properties ExplainSpec pins
      // for q53, re-checked here on the composed layout)
      val rootPlan = s.read.parquet(tmp).filter(col("l_year") === 1996)
        .queryExecution.executedPlan.toString
      val partitionPruned =
        "PartitionFilters: \\[[^\\]]*l_year[^\\]]*= 1996\\)".r
          .findFirstIn(rootPlan).nonEmpty &&
        rootPlan.contains("DataFilters: []") &&
        rootPlan.contains("PushedFilters: []")
      // lever 2: BIGMIN file skipping INSIDE the surviving partition
      val partDir = s"$tmp/l_year=1996"
      val (aLo, aHi, bLo, bHi) = (0L, 255L, 0L, 31L)
      val (_, split, filesInPartition) =
        Layout.zorderFiles(s, partDir, Seq((aLo, aHi), (bLo, bHi)))
      require(split.nonEmpty,
        s"split cover kept no files in $partDir for box a=[$aLo,$aHi] b=[$bLo,$bHi]")
      s.read.parquet(split: _*)
        .filter(pmod(col("l_partkey"), lit(65536)).between(aLo, aHi) &&
          pmod(col("l_suppkey"), lit(65536)).between(bLo, bHi))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("ok_sum"),
          sum(col("l_partkey") * 100000 + col("l_suppkey")).as("ps_sum"))
        .select(col("n"), col("ok_sum"), col("ps_sum"),
          lit(if (partitionPruned) 1L else 0L).as("partition_pruned"),
          lit(if (split.size < filesInPartition) 1L else 0L).as("files_pruned"))
    }, Some("""
      SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS ok_sum,
        CAST(SUM(l_partkey * 100000 + l_suppkey) AS BIGINT) AS ps_sum,
        CAST(1 AS BIGINT) AS partition_pruned,
        CAST(1 AS BIGINT) AS files_pruned
      FROM lineitem
      WHERE year(l_shipdate) = 1996
        AND l_partkey % 65536 BETWEEN 0 AND 255
        AND l_suppkey % 65536 BETWEEN 0 AND 31""")),

    // --------------------------------------------------- grouping analytics
    ("q09_rollup", (s: SparkSession, dir: String) => {
      rd(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"), col("l_linestatus"))
    }, Some("""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""")),

    ("q10_cube", (s: SparkSession, dir: String) => {
      rd(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
          grouping(col("o_orderstatus")).cast("long").as("g_s"),
          grouping(col("o_orderpriority")).cast("long").as("g_p"))
        .orderBy(col("g_s"), col("g_p"), col("o_orderstatus"), col("o_orderpriority"))
    }, Some(s"""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS total_cents,
        CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_s,
        CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_p
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY g_s, g_p, o_orderstatus, o_orderpriority""")),

    // -------------------------------------------------------- sort / top-k
    ("q11_topk", (s: SparkSession, dir: String) => {
      rd(s, dir, "orders").join(rd(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(sum(cents(col("o_totalprice"))).as("spend_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("spend_cents").desc, col("c_custkey"))
        .limit(20)
    }, Some(s"""
      SELECT c_custkey, c_name,
        CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS spend_cents,
        COUNT(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name
      ORDER BY spend_cents DESC, c_custkey LIMIT 20""")),

    // -------------------------------------------------------------- set ops
    ("q12_setops", (s: SparkSession, dir: String) => {
      val o = rd(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 200000).select("o_custkey").distinct()
      val ur = o.filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey").distinct()
      val mk = (d: DataFrame, tag: String) =>
        d.agg(count(lit(1)).as("n")).select(lit(tag).as("op"), col("n"))
      mk(hi.union(ur).distinct(), "union")
        .unionAll(mk(hi.intersect(ur), "intersect"))
        .unionAll(mk(hi.except(ur), "except"))
        .orderBy("op")
    }, Some("""
      WITH hi AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 200000),
           ur AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT * FROM hi UNION SELECT * FROM ur)
      UNION ALL
      SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT * FROM hi INTERSECT SELECT * FROM ur)
      UNION ALL
      SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT * FROM hi EXCEPT SELECT * FROM ur)
      ORDER BY op""")),

    // ------------------------------------------------------- distinct aggs
    ("q13_distinct_agg", (s: SparkSession, dir: String) => {
      rd(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps,
        COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ------------------------------------------------------ scalar functions
    ("q14_string_funcs", (s: SparkSession, dir: String) => {
      rd(s, dir, "part")
        .filter(col("p_name").like("%a%"))
        .select(col("p_partkey"),
          upper(col("p_name")).as("up_name"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_type"), 1, 5).as("type5"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey, upper(p_name) AS up_name,
        CAST(length(p_name) AS BIGINT) AS name_len,
        substring(p_type, 1, 5) AS type5,
        concat_ws('|', p_brand, p_type) AS brand_type,
        regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
      FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""")),

    ("q15_date_funcs", (s: SparkSession, dir: String) => {
      rd(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy("y", "m")
    }, Some(s"""
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
        CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
        COUNT(*) AS n_orders,
        CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS total_cents,
        COUNT(DISTINCT o_custkey) AS n_customers
      FROM orders GROUP BY 1, 2 ORDER BY y, m""")),

    ("q16_case_agg", (s: SparkSession, dir: String) => {
      rd(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          sum(when(col("o_orderpriority").startsWith("1"), 1L).otherwise(0L))
            .as("n_urgent"),
          sum(when(col("o_totalprice") > 150000, cents(col("o_totalprice")))
            .otherwise(0L)).as("big_cents"),
          max(when(col("o_orderpriority").startsWith("5"), col("o_custkey")))
            .as("max_low_cust"))
        .orderBy("o_orderstatus")
    }, Some(s"""
      SELECT o_orderstatus,
        CAST(SUM(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        CAST(SUM(CASE WHEN o_totalprice > 150000 THEN ${centsSql("o_totalprice")} ELSE 0 END) AS BIGINT) AS big_cents,
        MAX(CASE WHEN o_orderpriority LIKE '5%' THEN o_custkey END) AS max_low_cust
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // --------------------------------------------------- correlated compare
    ("q17_above_avg_orders", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy("o_custkey")
      rd(s, dir, "orders")
        .withColumn("c", cents(col("o_totalprice")))
        .withColumn("s", sum(col("c")).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
        // exact integer form of c > avg: c * cnt > sum
        .filter(col("c") * col("cnt") > col("s"))
        .groupBy("o_custkey").agg(count(lit(1)).as("n_above"))
        .orderBy("o_custkey")
    }, Some(s"""
      SELECT o_custkey, COUNT(*) AS n_above FROM (
        SELECT o_custkey, ${centsSql("o_totalprice")} AS c,
          SUM(${centsSql("o_totalprice")}) OVER (PARTITION BY o_custkey) AS s,
          COUNT(*) OVER (PARTITION BY o_custkey) AS cnt
        FROM orders
      ) WHERE c * cnt > s GROUP BY o_custkey ORDER BY o_custkey""")),

    // ------------------------------------------------------- events / time
    ("q18_events_hourly", (s: SparkSession, dir: String) => {
      rd(s, dir, "events")
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("value_cents"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("hour", "event_type")
    }, Some(s"""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type, COUNT(*) AS n,
        CAST(SUM(${centsSql("value")}) AS BIGINT) AS value_cents,
        COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    ("q19_events_json", (s: SparkSession, dir: String) => {
      rd(s, dir, "events")
        .withColumn("k", regexp_extract(col("props"), "(\\d+)", 1).cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type,
        CAST(SUM(CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        MAX(CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT)) AS max_k,
        COUNT(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---------------------------------------------------------- range join
    // ------------------------------------------------------- try_* functions
    ("q40_try_functions", (s: SparkSession, dir: String) => {
      rd(s, dir, "events")
        .select(col("event_id"),
          expr("try_cast(regexp_extract(props, '(\\\\d+)', 1) AS BIGINT)").as("k_ok"),
          expr("try_cast(props AS BIGINT)").as("k_null"))
        .filter(col("event_id") < 200)
        .orderBy("event_id")
    }, Some("""
      SELECT event_id,
        TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS k_ok,
        TRY_CAST(props AS BIGINT) AS k_null
      FROM events WHERE event_id < 200 ORDER BY event_id""")),

    // ---------------------------------------------------------- outer joins
    ("q36_outer_joins", (s: SparkSession, dir: String) => {
      // full outer: every customer vs customers-with-urgent-orders rollup
      val urgent = rd(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_urgent"))
      rd(s, dir, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy("c_mktsegment") // null segment groups the right-only rows
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("n_urgent"), lit(0L))).as("total_urgent"),
          sum(when(col("n_urgent").isNull, 1L).otherwise(0L)).as("n_no_urgent"))
        .orderBy("c_mktsegment")
    }, Some("""
      SELECT c_mktsegment, COUNT(*) AS n_rows,
        CAST(SUM(COALESCE(n_urgent, 0)) AS BIGINT) AS total_urgent,
        CAST(SUM(CASE WHEN n_urgent IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_urgent
      FROM customer FULL OUTER JOIN
        (SELECT o_custkey, COUNT(*) AS n_urgent FROM orders
         WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) u
        ON c_custkey = u.o_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ------------------------------------------------- range-frame windows
    ("q37_range_window", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      // per customer: orders within the trailing 365 days (range frame on
      // epoch days), plus first/last order prices
      // range frame must order by the numeric key alone; the row frame for
      // first_value needs a unique tie-break (duplicate (custkey, date)
      // rows with different prices exist — 37 at sf0.1)
      val wRange = Window.partitionBy("o_custkey").orderBy(col("d"))
      val wRows = Window.partitionBy("o_custkey").orderBy(col("d"), col("o_orderkey"))
      rd(s, dir, "orders")
        // o_orderdate is TIMESTAMP_NTZ; session is UTC so the cast is exact
        .withColumn("d", expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
        .withColumn("c", cents(col("o_totalprice")))
        .withColumn("trailing_365d_cents",
          sum(col("c")).over(wRange.rangeBetween(-365, 0)))
        .withColumn("first_cents",
          first(col("c")).over(wRows.rowsBetween(Window.unboundedPreceding, 0)))
        .select("o_custkey", "o_orderkey", "d", "trailing_365d_cents", "first_cents")
        .orderBy("o_custkey", "d", "o_orderkey")
    }, Some(s"""
      SELECT o_custkey, o_orderkey, d,
        CAST(SUM(c) OVER (PARTITION BY o_custkey ORDER BY d
          RANGE BETWEEN 365 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_365d_cents,
        CAST(FIRST_VALUE(c) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS first_cents
      FROM (SELECT o_custkey, o_orderkey,
          CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
          ${centsSql("o_totalprice")} AS c
        FROM orders)
      ORDER BY o_custkey, d, o_orderkey""")),

    // ----------------------------------------------------- set ops (ALL)
    ("q38_setops_all", (s: SparkSession, dir: String) => {
      val o = rd(s, dir, "orders")
      val a = o.filter(col("o_totalprice") > 150000).select("o_custkey")
      val b = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      val mk = (d: DataFrame, tag: String) =>
        d.agg(count(lit(1)).as("n")).select(lit(tag).as("op"), col("n"))
      mk(a.intersectAll(b), "intersect_all")
        .unionAll(mk(a.exceptAll(b), "except_all"))
        .unionAll(mk(a.unionAll(b), "union_all"))
        .orderBy("op")
    }, Some("""
      WITH a AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
           b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      SELECT 'intersect_all' AS op, COUNT(*) AS n
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
      UNION ALL
      SELECT 'except_all' AS op, COUNT(*) AS n
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
      UNION ALL
      SELECT 'union_all' AS op, COUNT(*) AS n
        FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
      ORDER BY op""")),

    // ------------------------------------------------- null-safe equality
    ("q39_null_safe_join", (s: SparkSession, dir: String) => {
      // derive a nullable key on both sides; <=> must match null with null
      val a = rd(s, dir, "orders")
        .withColumn("k", when(col("o_orderstatus") === "P", lit(null).cast("string"))
          .otherwise(col("o_orderstatus")))
        .groupBy("k").agg(count(lit(1)).as("n_orders"))
      val b = rd(s, dir, "orders")
        .withColumn("k2", when(col("o_orderstatus") === "P", lit(null).cast("string"))
          .otherwise(col("o_orderstatus")))
        .groupBy("k2").agg(sum(cents(col("o_totalprice"))).as("cents"))
      a.join(b, col("k") <=> col("k2"))
        .select(coalesce(col("k"), lit("<null>")).as("k"), col("n_orders"), col("cents"))
        .orderBy("k")
    }, Some(s"""
      WITH a AS (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS k,
                   COUNT(*) AS n_orders FROM orders GROUP BY 1),
           b AS (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS k2,
                   CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS cents FROM orders GROUP BY 1)
      SELECT COALESCE(k, '<null>') AS k, n_orders, cents
      FROM a JOIN b ON k IS NOT DISTINCT FROM k2
      ORDER BY k""")),

    // -------------------------------------------------------- grouping sets
    ("q35_grouping_sets", (s: SparkSession, dir: String) => {
      rd(s, dir, "lineitem").createOrReplaceTempView("li_gs")
      s.sql("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
          CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""")
    }, Some("""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""")),

    // --------------------------------------------------------- percentiles
    ("q30_percentiles", (s: SparkSession, dir: String) => {
      rd(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"),
          min(col("l_quantity")).as("qmin"),
          max(col("l_quantity")).as("qmax"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS p25,
        quantile_cont(l_quantity, 0.5) AS p50,
        quantile_cont(l_quantity, 0.75) AS p75,
        MIN(l_quantity) AS qmin, MAX(l_quantity) AS qmax
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // --------------------------------------------------------------- pivot
    ("q31_pivot", (s: SparkSession, dir: String) => {
      rd(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(cents(col("l_extendedprice"))))
        .orderBy("l_linestatus")
    }, Some(s"""
      SELECT l_linestatus,
        CAST(SUM(CASE WHEN l_returnflag = 'A' THEN ${centsSql("l_extendedprice")} END) AS BIGINT) AS A,
        CAST(SUM(CASE WHEN l_returnflag = 'N' THEN ${centsSql("l_extendedprice")} END) AS BIGINT) AS N,
        CAST(SUM(CASE WHEN l_returnflag = 'R' THEN ${centsSql("l_extendedprice")} END) AS BIGINT) AS R
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // -------------------------------------------------- collect/string agg
    ("q32_string_agg", (s: SparkSession, dir: String) => {
      rd(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
          .as("priorities"),
          countDistinct(col("o_orderpriority")).as("n_priorities"))
        .orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus,
        string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
        COUNT(DISTINCT o_orderpriority) AS n_priorities
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ----------------------------------------------------- scalar subquery
    ("q33_scalar_subquery", (s: SparkSession, dir: String) => {
      val o = rd(s, dir, "orders").withColumn("c", cents(col("o_totalprice")))
      val g = o.agg(sum(col("c")).as("s"), count(lit(1)).as("n"))
      // orders above the GLOBAL average, in exact integer form: c * n > s
      o.crossJoin(broadcast(g))
        .filter(col("c") * col("n") > col("s"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_above"),
          sum(col("c")).as("sum_above_cents"))
        .orderBy("o_orderstatus")
    }, Some(s"""
      SELECT o_orderstatus, COUNT(*) AS n_above,
        CAST(SUM(c) AS BIGINT) AS sum_above_cents
      FROM (SELECT o_orderstatus, ${centsSql("o_totalprice")} AS c FROM orders),
        (SELECT SUM(${centsSql("o_totalprice")}) AS s, COUNT(*) AS n FROM orders)
      WHERE c * n > s
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // --------------------------------- base64 / json envelope (S2/S3 parity)
    ("q34_base64_json", (s: SparkSession, dir: String) => {
      rd(s, dir, "part")
        .filter(col("p_partkey") % 100 === 0)
        .select(col("p_partkey"),
          base64(col("p_name").cast("binary")).as("b64"),
          unbase64(base64(col("p_name").cast("binary"))).cast("string").as("back"),
          to_json(struct(col("p_partkey"), col("p_brand"))).as("envelope"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey,
        to_base64(CAST(p_name AS BLOB)) AS b64,
        CAST(from_base64(to_base64(CAST(p_name AS BLOB))) AS VARCHAR) AS back,
        '{"p_partkey":' || p_partkey || ',"p_brand":"' || p_brand || '"}' AS envelope
      FROM part WHERE p_partkey % 100 = 0 ORDER BY p_partkey""")),

    ("q20_range_join", (s: SparkSession, dir: String) => {
      import s.implicits._
      val buckets = Seq((1, 10, "b01_10"), (11, 20, "b11_20"), (21, 35, "b21_35"),
        (36, 50, "b36_50")).toDF("lo", "hi", "bucket")
      rd(s, dir, "lineitem")
        .join(broadcast(buckets),
          col("l_quantity") >= col("lo") && col("l_quantity") <= col("hi"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice"))).as("price_cents"))
        .orderBy("bucket")
    }, Some(s"""
      SELECT bucket, COUNT(*) AS n,
        CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS price_cents
      FROM lineitem JOIN (VALUES (1, 10, 'b01_10'), (11, 20, 'b11_20'),
        (21, 35, 'b21_35'), (36, 50, 'b36_50')) AS b(lo, hi, bucket)
        ON l_quantity >= lo AND l_quantity <= hi
      GROUP BY bucket ORDER BY bucket"""))
  )
}
