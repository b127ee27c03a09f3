package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Scale}
import graft.sources.Tables

class ScaleExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("salted join returns exactly the rows of the plain join") {
    val orders = Tables(spark, SparkTestBase.sf0001, "orders")
    val customer = Tables(spark, SparkTestBase.sf0001, "customer")
    val plain = orders.join(customer,
        orders("o_custkey") === customer("c_custkey"))
      .select("o_orderkey", "c_custkey").as[(Long, Long)].collect().sorted.toSeq
    val salted = Scale.saltedJoin(orders, customer, "o_custkey", "c_custkey")
      .select("o_orderkey", "c_custkey").as[(Long, Long)].collect().sorted.toSeq
    assert(salted === plain)
  }

  test("decay trend: one week of age halves the score; horizon drops old parts") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, ts("2020-06-01")), // w = 0
      (2L, ts("2020-05-25")), // exactly 7 days → w = 1
      (3L, ts("2020-01-01"))  // w = 21 ≥ horizon → dropped
    ).toDF("o_orderkey", "o_orderdate")
    val lineitem = Seq(
      (1L, 100L, 10.0), (2L, 200L, 10.0), (3L, 300L, 10.0)
    ).toDF("l_orderkey", "l_partkey", "l_extendedprice")
    val got = Scale.decayTrend(orders, lineitem)
      .as[(Long, Long, Double)].collect()
    // 1000 cents × 2^11 / 204800 = 10.0; one week older → half
    assert(got.toSeq === Seq((100L, 1L, 10.0), (200L, 1L, 5.0)))
  }

  test("promo share: conditional one-pass share from exact cents") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val part = Seq((1L, "ECONOMY"), (2L, "SMALL")).toDF("p_partkey", "p_type")
    val li = Seq(
      (1L, ts("1996-01-05"), 10.0, 0.0),
      (2L, ts("1996-01-09"), 30.0, 0.0),
      (2L, ts("1996-02-01"), 10.0, 0.5)
    ).toDF("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    val got = Analytics.promoShareByMonth(li, part)
      .orderBy("ym").as[(Int, Long, Long, Long, Double)].collect()
    assert(got.toSeq === Seq(
      (199601, 2L, 1000L, 4000L, 25.0),
      (199602, 1L, 0L, 500L, 0.0)))
  }

  test("top supplier: ties at the integer-cents max all surface") {
    import spark.implicits._
    val sup = Seq((1L, "s1"), (2L, "s2"), (3L, "s3"))
      .toDF("s_suppkey", "s_name")
    val li = Seq(
      (1L, 60.0, 0.0), (1L, 40.0, 0.0), // 100.00
      (2L, 200.0, 0.5),                 // 100.00 — exact-cents tie
      (3L, 99.99, 0.0)
    ).toDF("l_suppkey", "l_extendedprice", "l_discount")
    val got = Analytics.topSupplier(li, sup)
      .orderBy("s_suppkey").as[(Long, String, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, "s1", 2L, 100.0), (2L, "s2", 1L, 100.0)))
  }

  test("returned items: only flag-R lines inside the order-date window count") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (10L, 1L, ts("1996-06-01")), (11L, 2L, ts("1996-07-01")),
      (12L, 1L, ts("1995-06-01")) // outside the window
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
    val li = Seq(
      (10L, "R", 50.0, 0.0), (10L, "N", 999.0, 0.0), // N ignored
      (11L, "R", 20.0, 0.0), (12L, "R", 999.0, 0.0)  // old order ignored
    ).toDF("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
    val cust = Seq((1L, "c1", 100L), (2L, "c2", 200L))
      .toDF("c_custkey", "c_name", "c_nationkey")
    val nat = Seq((100L, "FRANCE"), (200L, "KENYA"))
      .toDF("n_nationkey", "n_name")
    val got = Analytics.returnedItems(li, orders, cust, nat)
      .orderBy("c_custkey").as[(Long, String, String, Long, Double)].collect()
    assert(got.toSeq === Seq(
      (1L, "c1", "FRANCE", 1L, 50.0), (2L, "c2", "KENYA", 1L, 20.0)))
  }

  test("waiting supplier: only the sole late supplier of a multi-supplier order") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (10L, ts("2024-01-01"), "F"), (11L, ts("2024-01-01"), "F"),
      (12L, ts("2024-01-01"), "F"), (13L, ts("2024-01-01"), "O"),
      (14L, ts("2024-01-01"), "F")
    ).toDF("o_orderkey", "o_orderdate", "o_orderstatus")
    val late = ts("2024-06-01"); val ok = ts("2024-01-15")
    val li = Seq(
      (10L, 1L, late), (10L, 2L, ok),   // sole offender: supplier 1
      (11L, 1L, late), (11L, 2L, late), // two late → nobody charged
      (12L, 1L, late),                  // single-supplier → not charged
      (13L, 1L, late), (13L, 2L, ok),   // order not finished → excluded
      (14L, 2L, late), (14L, 2L, late), (14L, 3L, ok) // two late LINES, one supplier
    ).toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val sup = Seq((1L, "s1"), (2L, "s2"), (3L, "s3"))
      .toDF("s_suppkey", "s_name")
    val got = Analytics.soleDelayedSupplier(li, orders, sup)
      .as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "s1", 1L), (2L, "s2", 1L)))
  }

  test("lapsed accounts: strict integer-average threshold, recent orders disqualify") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // positive balances 100+200+300+400 → n=4, avg 250; the negative
    // balance is out of the average but still a candidate row
    val cust = Seq(
      (1L, 10L, 100.0), (2L, 10L, 200.0), (3L, 100L, 300.0),
      (4L, 10L, -50.0), (5L, 200L, 400.0)
    ).toDF("c_custkey", "c_nationkey", "c_acctbal")
    val orders = Seq(
      (90L, 3L, ts("1999-05-05")),  // cust 3: old order only → lapsed
      (91L, 5L, ts("2000-06-01"))   // cust 5: recent → disqualified
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
    val nat = Seq((10L, "KENYA"), (100L, "FRANCE"), (200L, "PERU"))
      .toDF("n_nationkey", "n_name")
    val got = Analytics.lapsedBigAccounts(cust, orders, nat)
      .as[(String, Long, Double)].collect().toSet
    // cust 2 sits exactly AT the average (200·4 = 1000): strict > excludes
    assert(got === Set(("FRANCE", 1L, 300.0)))
  }

  test("important parts: the integer cross-multiplied bar keeps strictly-above only") {
    import spark.implicits._
    val part = Seq((1L, "p1"), (2L, "p2"), (3L, "p3"))
      .toDF("p_partkey", "p_name")
    // revenues 100, 200, 300 → avg 200; bar 1.5× = 300: strict > excludes
    // the exactly-at-the-bar part 3... so push part 3 to 301
    val li = Seq(
      (1L, 100.0, 0.0), (2L, 200.0, 0.0), (3L, 301.0, 0.0)
    ).toDF("l_partkey", "l_extendedprice", "l_discount")
    val got = Analytics.importantParts(li, part)
      .as[(Long, String, Double, Double)].collect().toSeq
    // avg = 601/3; part 3: 301·3·10 = 9030 > 15·601 = 9015 ✓
    // part 2: 200·3·10 = 6000 > 9015 ✗
    assert(got === Seq((3L, "p3", 301.0, 1.5025)))
  }

  test("customer distribution: the zero-order bucket survives the left join") {
    import spark.implicits._
    val cust = Seq(1L, 2L, 3L).toDF("c_custkey")
    val orders = Seq((10L, 1L), (11L, 1L), (12L, 3L))
      .toDF("o_orderkey", "o_custkey")
    val got = Analytics.customerDistribution(cust, orders)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(2L -> 1L, 1L -> 1L, 0L -> 1L))
  }

  test("rollup emits leaf, subtotal, and grand-total rows") {
    val r = Scale.rollupSummary(Tables(spark, SparkTestBase.sf0001, "lineitem"))
    val rows = r.collect()
    assert(rows.exists(x => x.getString(0) == "ALL" && x.getString(1) == "ALL"))
    val grand = r.filter($"l_returnflag" === "ALL" && $"l_linestatus" === "ALL")
      .select("n").as[Long].head()
    assert(grand === 6000L)
  }

  test("counting-median in aggExtras equals Spark's percentile aggregate") {
    // aggExtras computes the exact interpolated median from value
    // counts (codegen, O(|domain|) state) instead of the buffer-all
    // percentile TypedImperativeAggregate; both must agree bit-for-bit
    // on both parities (odd/even group sizes)
    val li = Tables(spark, SparkTestBase.sf0001, "lineitem")
    val ref = li.groupBy($"l_returnflag")
      .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("m"))
      .as[(String, Double)].collect().toMap
    val got = Scale.aggExtras(li).select("l_returnflag", "median_qty")
      .as[(String, Double)].collect().toMap
    assert(got === ref)
    val oddEven = Seq(("a", 1L), ("a", 2L), ("a", 4L), ("a", 9L), ("b", 1L),
      ("b", 7L), ("b", 10L)).toDF("l_returnflag", "l_quantity")
      .withColumn("l_partkey", lit(1L)).withColumn("l_extendedprice", lit(1.0))
    val m = Scale.aggExtras(oddEven).select("l_returnflag", "median_qty")
      .as[(String, Double)].collect().toMap
    assert(m === Map("a" -> 3.0, "b" -> 7.0)) // even: interpolated midpoint
  }

  test("TopKByScore aggregate keeps the k best with deterministic ties") {
    import graft.functions.TopKByScore.top_k_by_score
    val df = Seq(
      (1L, 0.9, 10L), (1L, 0.9, 7L), (1L, 0.5, 3L), (1L, 0.99, 4L),
      (2L, 0.1, 1L)).toDF("g", "score", "id")
    val got = df.groupBy($"g").agg(top_k_by_score($"score", $"id", 2).as("top"))
      .select($"g", $"top").as[(Long, Seq[(Double, Long)])].collect().toMap
    assert(got(1L) === Seq((0.99, 4L), (0.9, 7L))) // tie at 0.9 → lower id wins
    assert(got(2L) === Seq((0.1, 1L)))
  }

  test("TopKByScore survives partial aggregation across many partitions") {
    import graft.functions.TopKByScore.top_k_by_score
    val df = spark.range(0, 1000, 1, 16)
      .select(lit(1L).as("g"), (col("id") % 97).cast("double").as("score"), col("id"))
    val top = df.groupBy($"g").agg(top_k_by_score($"score", $"id", 3).as("top"))
      .select($"top").as[Seq[(Double, Long)]].head()
    // best score is 96, attained first at ids 96, 193, 290 → lowest ids win
    assert(top === Seq((96.0, 96L), (96.0, 193L), (96.0, 290L)))
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val wh = SparkTestBase.tempDir("graft-wh")
    spark.conf.set("spark.sql.legacy.allowNonEmptyLocationInCTAS", "true")
    val prev = spark.catalog.currentDatabase
    val orders = Tables(spark, SparkTestBase.sf0001, "orders")
    val customer = Tables(spark, SparkTestBase.sf0001, "customer")
    orders.write.mode("overwrite")
      .option("path", s"$wh/orders_b")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
    customer.write.mode("overwrite")
      .option("path", s"$wh/customer_b")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val joined = spark.table("orders_b").join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan) // bucket layout replaces the shuffle
      assert(joined.count() === orders.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
      assert(prev === spark.catalog.currentDatabase)
    }
  }

  test("SQL users reach the custom expressions after registration") {
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head.getDouble(0) === 11.0)
    val viaSql = spark.sql("SELECT rolling_hash('spark table')").head.getLong(0)
    val viaDf = Seq("spark table").toDF("s")
      .select(graft.functions.RollingHash.rolling_hash(col("s"))).head.getLong(0)
    assert(viaSql === viaDf)
    // full signature pipeline in pure SQL
    val sig = spark.sql(
      "SELECT simhash(shingle_hashes('a b c d e f', 1, 0))").head.getLong(0)
    val viaOp = graft.operators.Dedup.simhash(
      Seq((1L, "a b c d e f")).toDF("doc_id", "text")).select("simhash")
      .as[Long].head()
    assert(sig === viaOp)
    // media embedding + LSH bucketing compose in pure SQL too
    val buckets = spark.sql(
      "SELECT lsh_buckets(media_embed('hello world', 64, 7), 8, 4, 64)")
      .head.getSeq[Int](0)
    val viaDf2 = Seq((1L, "hello world")).toDF("doc_id", "text")
      .select(graft.functions.MediaEmbed.media_embed(col("text"), 64, 7).as("v"))
      .select(graft.functions.TextSignatureColumns.lsh_buckets(col("v"), 8, 4, 64))
      .head.getSeq[Int](0)
    assert(buckets === viaDf2 && buckets.length === 8)
    // the surfaced bloom pair: sketch in a subquery, probe as a scalar
    // (members always hit; a disjoint range misses at fpp ≈ 3%)
    val hit = spark.sql(
      """SELECT might_contain(
           (SELECT bloom_filter_agg(xxhash64(id)) FROM range(1000)),
           xxhash64(CAST(5 AS BIGINT)))""").head.getBoolean(0)
    assert(hit)
    val misses = spark.sql(
      """SELECT count(*) FROM range(5000, 6000) WHERE NOT might_contain(
           (SELECT bloom_filter_agg(xxhash64(id)) FROM range(1000)),
           xxhash64(id))""").head.getLong(0)
    assert(misses > 900, s"bloom fpp too high: ${1000 - misses}/1000")
    // deflate kernel reachable from SQL, equal to the DataFrame path
    val dz = spark.sql("SELECT deflate_size('aa aa aa aa aa aa')").head.getLong(0)
    val dzDf = Seq("aa aa aa aa aa aa").toDF("s")
      .select(graft.functions.DeflateSize.deflate_size(col("s"))).head.getLong(0)
    assert(dz === dzDf && dz > 0)
    // non-constant kernel parameters must fail with a clear message
    val err = intercept[Exception](
      spark.sql("SELECT shingle_hashes('a b c', CAST(id AS INT), 0) FROM range(1)")
        .collect())
    assert(err.getMessage.contains("constant"), err.getMessage)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // one hot key carrying most rows: the static plan would grind one
    // reducer; AQE must re-plan the sort-merge join with the hot
    // partition split. Thresholds lowered so a local-size corpus
    // triggers the same machinery a 100 TB skew would.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(200000)
        .select(when(col("id") % 100 =!= 0, 0L).otherwise(col("id")).as("k"),
          concat(lit("payload-payload-payload-"), col("id")).as("p"))
      val right = spark.range(2000).select(col("id").as("k"), col("id").as("v"))
      // AQE finalizes per execution: materialize THIS DataFrame's own
      // QueryExecution (a .count() would plan a different query). Keep
      // the fat payload in the output or column pruning deflates the
      // hot partition below the skew threshold.
      val joined = left.join(right, "k")
      assert(joined.collect().length > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(2000))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("top_k_by_score aggregates through pure SQL (analyzer wraps the bare AggregateFunction)") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      """SELECT g, transform(top_k_by_score(s, i, 2), x -> x.id) AS ids FROM VALUES
         (1, 0.5D, 10L), (1, 0.9D, 11L), (1, 0.7D, 12L), (2, 0.1D, 20L)
         AS t(g, s, i) GROUP BY g ORDER BY g""")
      .as[(Int, Seq[Long])].collect().toSeq
    assert(got === Seq((1, Seq(11L, 12L)), (2, Seq(20L))))
  }

  test("min-cost supplier: per-part minimum ties all surface; out-of-region offers ignored") {
    import spark.implicits._
    val part = Seq((1L, "p1", 5, "LARGE"), (2L, "p2", 5, "SMALL"))
      .toDF("p_partkey", "p_name", "p_size", "p_type")
    val sup = Seq(
      (1L, "s1", 10, 500.0), (2L, "s2", 10, 900.0), (3L, "s3", 20, 100.0)
    ).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val nat = Seq((10, "N_A", 0), (20, "N_B", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val reg = Seq((0, "ASIA"), (1, "EUROPE")).toDF("r_regionkey", "r_name")
    val li = Seq(
      (1L, 1L, 100.0, 10.0),  // s1 offers p1 at 10.00
      (1L, 1L, 300.0, 10.0),  // worse offer from s1 — min keeps 10.00
      (1L, 2L, 50.0, 5.0),    // s2 ties at 10.00 → both surface
      (1L, 3L, 10.0, 10.0),   // cheapest but EUROPE → ignored
      (2L, 1L, 80.0, 10.0)    // wrong p_type → ignored
    ).toDF("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    val got = Analytics.minCostSupplier(li, part, sup, nat, reg)
      .as[(Double, String, String, Long, String, Double)].collect().toSeq
    // ordered by balance desc: s2 (900) before s1 (500)
    assert(got === Seq(
      (900.0, "s2", "N_A", 1L, "p1", 10.0),
      (500.0, "s1", "N_A", 1L, "p1", 10.0)))
  }

  test("order priority check: one late line marks the order once; on-time-only orders drop") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (10L, ts("1997-02-01"), "1-URGENT"),  // two late lines → counted once
      (11L, ts("1997-02-01"), "5-LOW"),     // on-time only → dropped
      (12L, ts("1996-12-31"), "1-URGENT")   // outside quarter → dropped
    ).toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Seq(
      (10L, ts("1997-05-01")), (10L, ts("1997-06-01")), // both >60d late
      (11L, ts("1997-02-10")),
      (12L, ts("1997-07-01"))
    ).toDF("l_orderkey", "l_shipdate")
    val got = Analytics.orderPriorityCheck(li, orders)
      .as[(String, Long)].collect().toMap
    assert(got === Map("1-URGENT" -> 1L))
  }

  test("market share: exact-cents conditional over unconditional per year") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val part = Seq((1L, "PROMO"), (2L, "LARGE")).toDF("p_partkey", "p_type")
    val sup = Seq((1L, 10), (2L, 20)).toDF("s_suppkey", "s_nationkey")
    val nat = Seq((10, "NATION_3", 0), (20, "NATION_4", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val reg = Seq((0, "ASIA")).toDF("r_regionkey", "r_name")
    val cust = Seq((1L, 10)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((100L, 1L, ts("1997-03-01")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val li = Seq(
      (100L, 1L, 1L, 75.0, 0.0),   // target nation: 7500 cents
      (100L, 1L, 2L, 225.0, 0.0),  // other nation: 22500 cents
      (100L, 2L, 1L, 999.0, 0.0)   // non-PROMO part → ignored
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    val got = Analytics.nationMarketShare(li, orders, cust, sup, nat, reg, part)
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq((1997L, 0.25)))
  }

  test("delay split: bucket edges at 30/90 days inclusive, hi/lo partition") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, ts("1997-01-01"), "1-URGENT"),
      (2L, ts("1997-01-01"), "3-MEDIUM")
    ).toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Seq(
      (1L, ts("1997-01-31")),  // 30d → FAST (inclusive edge)
      (1L, ts("1997-04-01")),  // 90d → NORMAL (inclusive edge)
      (2L, ts("1997-04-02")),  // 91d → SLOW
      (2L, ts("1998-01-02"))   // outside ship-year window → dropped
    ).toDF("l_orderkey", "l_shipdate")
    val got = Analytics.shipDelaySplit(li, orders)
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("FAST", 1L, 0L), ("NORMAL", 1L, 0L), ("SLOW", 0L, 1L)))
  }

  test("part-supplier breadth: distinct per descriptor; complaints and exclusions pruned") {
    import spark.implicits._
    val part = Seq(
      (1L, "Brand#2", "SMALL", 5), (2L, "Brand#1", "SMALL", 5),
      (3L, "Brand#2", "PROMO", 5)
    ).toDF("p_partkey", "p_brand", "p_type", "p_size")
    val sup = Seq((1L, 100.0), (2L, -5.0), (3L, 50.0))
      .toDF("s_suppkey", "s_acctbal")
    val li = Seq(
      (1L, 1L), (1L, 1L), (1L, 3L), // part 1: suppliers {1, 3} (dup row collapses)
      (1L, 2L),                     // complaint supplier → pruned
      (2L, 1L),                     // excluded brand
      (3L, 1L)                      // excluded type
    ).toDF("l_partkey", "l_suppkey")
    val got = Analytics.partSupplierBreadth(li, part, sup)
      .as[(String, String, Int, Long)].collect().toSeq
    assert(got === Seq(("Brand#2", "SMALL", 5, 2L)))
  }

  test("revenue percentiles: ties share a rank, cume_dist counts through them") {
    import spark.implicits._
    val part = Seq((1L, "SMALL"), (2L, "SMALL"), (3L, "SMALL"), (4L, "LARGE"))
      .toDF("p_partkey", "p_type")
    // SMALL revenues: 100, 100, 300 -> pct_rank 0, 0, 1; cume 2/3, 2/3, 1
    val li = Seq(
      (1L, 100.0, 0.0), (2L, 100.0, 0.0), (3L, 300.0, 0.0), (4L, 50.0, 0.0)
    ).toDF("l_partkey", "l_extendedprice", "l_discount")
    val got = Analytics.revenuePercentiles(li, part)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._2 -> ((r._1, r._3, r._4, r._5))).toMap
    assert(got(1L) === (("SMALL", 100.0, 0.0, 0.666667)))
    assert(got(2L) === (("SMALL", 100.0, 0.0, 0.666667)))
    assert(got(3L) === (("SMALL", 300.0, 1.0, 1.0)))
    assert(got(4L) === (("LARGE", 50.0, 0.0, 1.0))) // singleton partition
  }

  test("major part suppliers: strict integer share bar, nation-bound names") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val part = Seq((1L, "SMALL")).toDF("p_partkey", "p_type")
    val sup = Seq((1L, "s1", 10), (2L, "s2", 10), (3L, "s3", 20))
      .toDF("s_suppkey", "s_name", "s_nationkey")
    val nat = Seq((10, "NATION_2"), (20, "NATION_9"))
      .toDF("n_nationkey", "n_name")
    // totals: part 1 ships 1000 units; s1 ships 980 (98%), s2 ships 20
    // (2% — exactly AT the bar: strict > excludes), s3 would pass but
    // is in the wrong nation
    val li = Seq(
      (1L, 1L, ts("1997-05-01"), 950.0),
      (1L, 3L, ts("1997-05-01"), 30.0),
      (1L, 2L, ts("1997-05-01"), 20.0)
    ).toDF("l_partkey", "l_suppkey", "l_shipdate", "l_quantity")
    val got = Analytics.majorPartSuppliers(li, part, sup, nat)
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "s1")))
  }

  test("grouping sets emits exactly the two one-column margins") {
    import spark.implicits._
    val li = Seq(("A", "F", 1.0), ("A", "O", 2.0), ("R", "F", 4.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity")
    val got = Scale.groupingSetsSummary(li)
      .as[(String, String, Double, Long)].collect().toSet
    // flag margins (status=ALL) + status margins (flag=ALL); no leaf
    // rows, no grand total -- the set neither ROLLUP nor CUBE gives
    assert(got === Set(
      ("A", "ALL", 3.0, 2L), ("R", "ALL", 4.0, 1L),
      ("ALL", "F", 5.0, 2L), ("ALL", "O", 2.0, 1L)))
  }

  test("trailing revenue RANGE frame: calendar gaps shrink the window") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val orders = Seq(
      (1L, d("2020-01-01"), 10.0), (2L, d("2020-01-02"), 20.0),
      (3L, d("2020-01-10"), 40.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val got = Scale.trailingRevenue(orders)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // day 2's window covers days -4..2 -> both early orders; day 10's
    // VALUE window covers days 4..10 -> ONLY itself (a ROWS frame
    // would wrongly include all three rows)
    assert(got.map(_._3).toSeq === Seq(1000L, 3000L, 4000L))
  }

  test("epoch shuffle: each epoch is a full reproducible permutation, orders differ across epochs") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val got = graft.operators.Sampling.epochShuffle(docs)
      .as[(Long, Long, Long)].collect()
    val byEpoch = got.groupBy(_._1)
    assert(byEpoch.keySet === Set(0L, 1L, 2L))
    // each epoch: every doc exactly once, positions are 1..N
    byEpoch.values.foreach { rows =>
      assert(rows.map(_._2).toSet === (0L until 40L).toSet)
      assert(rows.map(_._3).sorted.toSeq === (1L to 40L).toSeq)
    }
    // distinct epochs order the corpus differently
    def order(e: Long) = byEpoch(e).sortBy(_._3).map(_._2).toSeq
    assert(order(0L) != order(1L) && order(1L) != order(2L))
    // reproducible: a second run is identical
    val again = graft.operators.Sampling.epochShuffle(docs)
      .as[(Long, Long, Long)].collect()
    assert(again.toSet === got.toSet)
  }
}
