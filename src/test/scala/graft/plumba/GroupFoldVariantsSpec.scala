package graft.plumba

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.plumba.Kernel._
import graft.plumba.syntax._

/** Differential tests: every per-group fold route must agree. */
class GroupFoldVariantsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // Tables normalizes `ts` to bigint epoch nanos whatever the fixture's
  // physical timestamp type — the ord-column paths below require it
  private def events = graft.queries.Tables(spark, TestSpark.sfDir, "events")

  test("groupFoldMergeable (range-salted partials) == groupFold for a mergeable sum") {
    val mergeable = Fold[Double](
      0.0, (acc, args) => acc + args(0).asInstanceOf[Double],
      merge = Some(Merge(0.0, (a: Double, b: Double) => a + b)))
    val salted = GroupOps.groupFoldMergeable(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), mergeable, DoubleType, buckets = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sequential = events
      .groupFold(Seq("user_id"), Seq("value"), Seq("ts", "event_id"), mergeable, DoubleType)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(salted.keySet == sequential.keySet)
    salted.foreach { case (k, v) => assert(math.abs(v - sequential(k)) < 1e-9, s"user $k") }
  }

  test("groupFoldMergeable == groupFold for the ORDER-SENSITIVE streak kernel") {
    // streak of value > 50 per user: order across range buckets matters —
    // this is the test that would catch an unordered/hash salt.
    val k = Streak.kernel[Double](_ > 50.0)
    val salted = GroupOps.groupFoldMergeable(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType,
        buckets = 8, emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sequential = GroupOps.groupFold(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType,
        emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(salted == sequential)
  }

  test("groupFoldMergeable == groupFold when the ordering column contains NULLs") {
    // Spark's ascending sortWithinPartitions puts NULL ordering values
    // FIRST; the range salt must route them to bucket 0 (a null `ordD < b`
    // predicate would otherwise fall through to the LAST bucket and
    // reorder an order-sensitive fold).
    import spark.implicits._
    val df = Seq(
      (1L, Option(3.0), 10.0), (1L, Option.empty[Double], 100.0),
      (1L, Option(1.0), 1.0), (1L, Option(2.0), 5.0), (1L, Option(4.0), 6.0),
      (2L, Option.empty[Double], 7.0), (2L, Option(5.0), 2.0), (2L, Option(6.0), 9.0)
    ).toDF("g", "ord", "v")
    val k = Streak.kernel[Double](_ > 4.0) // order-sensitive
    val salted = GroupOps.groupFoldMergeable(
        df, Seq("g"), Seq("v"), Seq("ord"), k, DoubleType,
        buckets = 4, emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sequential = GroupOps.groupFold(
        df, Seq("g"), Seq("v"), Seq("ord"), k, DoubleType,
        emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(salted == sequential)
  }

  test("groupScanMergeable (range-salted) == groupScan for mergeable kernels") {
    // cummax is order-sensitive enough to catch bucket-order mistakes;
    // also run with planted null values (scan null policy) and null
    // ordering values (bucket-0 routing)
    val evn = events
      .withColumn("vn", when(col("value") > 95.0, lit(null)).otherwise(col("value")))
    val k = Kernel.Scan.of1[Double, Double](0.0,
      merge = Some(Merge(0.0, (a: Double, b: Double) => math.max(a, b))))(math.max)
    val salted = GroupOps.groupScanMergeable(
        evn, Seq("user_id"), Seq("vn"), Seq("ts", "event_id"), k, DoubleType, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> Option(r.get(3))).toMap
    val sequential = GroupOps.groupScan(
        evn, Seq("user_id"), Seq("vn"), Seq("ts", "event_id"), k, DoubleType)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> Option(r.get(3))).toMap
    assert(salted.size == sequential.size && salted == sequential)
    // order-sensitive last-wins kernel over a null-order frame
    import spark.implicits._
    val df = Seq(
      (1L, Option(3.0), 10.0), (1L, Option.empty[Double], 100.0),
      (1L, Option(1.0), 1.0), (1L, Option(2.0), 5.0), (2L, Option(9.0), 2.0)
    ).toDF("g", "ord", "v")
    val lastK = Kernel.Scan.of1[Double, Double](-1.0,
      merge = Some(Merge(-1.0, (a: Double, b: Double) => if (b == -1.0) a else b)))((_, x) => x)
    val s1 = GroupOps.groupScanMergeable(df, Seq("g"), Seq("v"), Seq("ord"), lastK, DoubleType, buckets = 4)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString)) -> Option(r.get(2))).toSet
    val s2 = GroupOps.groupScan(df, Seq("g"), Seq("v"), Seq("ord"), lastK, DoubleType)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString)) -> Option(r.get(2))).toSet
    assert(s1 == s2)
  }

  test("mergeable paths with AUTO buckets (defaultParallelism-derived) == sequential") {
    // buckets = 0 (the default) derives the count from the cluster and
    // samples boundaries — results must be identical to sequential
    // regardless of where the sampled boundaries land
    val k = Streak.kernel[Double](_ > 50.0)
    val salted = GroupOps.groupFoldMergeable(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType,
        emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sequential = GroupOps.groupFold(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType,
        emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(salted == sequential)
  }

  test("mergeable fold/scan paths leave no CacheManager entries behind (leak regression)") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val k = Kernel.Scan.of1[Double, Double](0.0,
      merge = Some(Merge(0.0, (a: Double, b: Double) => math.max(a, b))))(math.max)
    GroupOps.groupScanMergeable(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType, buckets = 4)
      .write.format("noop").mode("overwrite").save()
    CollectOps.collectScanMergeable(
        events, Seq("value"), Seq("ts", "event_id"), k,
        Merge(0.0, (a: Double, b: Double) => math.max(a, b)), DoubleType)
      .write.format("noop").mode("overwrite").save()
    assert(cm.isEmpty, "a mergeable path registered a DataFrame cache it never released")
  }

  test("NaN and null group keys: every GroupOps path forms the groups of groupBy") {
    import spark.implicits._
    val df = Seq[(Option[Double], Long, Double)](
      (Some(Double.NaN), 1L, 1.0), (Some(Double.NaN), 2L, 2.0), (Some(1.0), 3L, 8.0),
      (Some(Double.NaN), 4L, 4.0), (None, 5L, 16.0), (None, 6L, 32.0)).toDF("g", "ord", "v")
    val sumMerge = Some(Merge(0.0, (a: Double, b: Double) => a + b))
    val sumF = Fold.of1[Double, Double](0.0, sumMerge)(_ + _)
    val sumS = Kernel.Scan.of1[Double, Double](0.0, merge = sumMerge)(_ + _)
    def keyed(d: DataFrame) = d.collect().map(r => String.valueOf(r.get(0)) -> r.getDouble(1)).toMap
    // a running sum of positive values ends at the group's sum
    def lastOfScan(d: DataFrame) = d.collect().groupBy(r => String.valueOf(r.get(0)))
      .map { case (g, rs) => g -> rs.map(_.getDouble(2)).max }
    val expected = keyed(df.groupBy("g").agg(sum("v")))
    assert(expected == Map("NaN" -> 7.0, "1.0" -> 8.0, "null" -> 48.0))
    assert(keyed(GroupOps.groupFold(df, Seq("g"), Seq("v"), Seq("ord"), sumF, DoubleType)) == expected)
    assert(keyed(GroupOps.groupFoldMergeable(df, Seq("g"), Seq("v"), Seq("ord"), sumF, DoubleType, buckets = 2))
      == expected)
    val scans = Seq(
      GroupOps.groupScan(df, Seq("g"), Seq("v"), Seq("ord"), sumS, DoubleType),
      GroupOps.groupScanMergeable(df, Seq("g"), Seq("v"), Seq("ord"), sumS, DoubleType, buckets = 2))
    scans.foreach(d => assert(lastOfScan(d) == expected))
  }

  // ---- segment boundaries: each mergeable path == its sequential path
  // for the order-sensitive Streak and last-wins kernels -----------------

  private val lastMerge = Merge(-1.0, (a: Double, b: Double) => if (b == -1.0) a else b)

  /** Rows as strings, sorted: a multiset that prints NaN and null. */
  private def lines(d: DataFrame): Seq[String] = d.collect().map(_.mkString("|")).toSeq.sorted

  /** The mergeable fold and scan over `df` (value column `v`) with
    * `buckets` range partitions equal their sequential forms. */
  private def assertSegmentsAgree(df: DataFrame, keys: Seq[String], order: Seq[String], buckets: Int): Unit = {
    val streakF = Streak.kernel[Double](_ > 50.0)
    val streakS = Kernel.Scan[Streak.S](streakF.init, streakF.step,
      emit = (s: Streak.S) => Streak.best(s), merge = streakF.merge)
    val lastF = Fold.of1[Double, Double](-1.0, Some(lastMerge))((_, x) => x)
    val lastS = Kernel.Scan.of1[Double, Double](-1.0, merge = Some(lastMerge))((_, x) => x)
    val best = (s: Streak.S) => Streak.best(s)
    assert(lines(GroupOps.groupFoldMergeable(df, keys, Seq("v"), order, streakF, LongType, buckets = buckets, emit = best))
      == lines(GroupOps.groupFold(df, keys, Seq("v"), order, streakF, LongType, emit = best)))
    assert(lines(GroupOps.groupFoldMergeable(df, keys, Seq("v"), order, lastF, DoubleType, buckets = buckets))
      == lines(GroupOps.groupFold(df, keys, Seq("v"), order, lastF, DoubleType)))
    assert(lines(GroupOps.groupScanMergeable(df, keys, Seq("v"), order, streakS, LongType, buckets = buckets))
      == lines(GroupOps.groupScan(df, keys, Seq("v"), order, streakS, LongType)))
    assert(lines(GroupOps.groupScanMergeable(df, keys, Seq("v"), order, lastS, DoubleType, buckets = buckets))
      == lines(GroupOps.groupScan(df, keys, Seq("v"), order, lastS, DoubleType)))
  }

  /** Per range partition of the mergeable scan's output, the distinct
    * values of `c` in row order. */
  private def layout(df: DataFrame, keys: Seq[String], order: Seq[String], buckets: Int, c: String)
      : Map[Int, Seq[String]] = {
    val k = Kernel.Scan.of1[Double, Double](0.0, merge = Some(Merge(0.0, (a: Double, b: Double) => a + b)))(_ + _)
    GroupOps.groupScanMergeable(df, keys, Seq("v"), order, k, DoubleType, buckets = buckets)
      .select(spark_partition_id().as("pid"), col(c).cast("string")).collect()
      .groupBy(_.getInt(0)).map { case (p, rs) => p -> rs.map(r => String.valueOf(r.get(1))).toSeq.distinct }
  }

  // 200 rows in one input partition: the range sample holds every row,
  // so `buckets = 4` cuts the (g, ord) order into four 50-row ranges
  private def values(id: Column) = when(id % 11 === 0, lit(null)).otherwise((id * 37 % 100).cast("double"))

  test("segment boundaries: one hot key over all 4 partitions chains seeds across 3 boundaries") {
    val df = spark.range(0, 200, 1, 1)
      .select(lit(7L).as("g"), (col("id") * 79 % 200).as("ord"), values(col("id")).as("v"))
    assert(layout(df, Seq("g"), Seq("ord"), 4, "g") == (0 until 4).map(_ -> Seq("7")).toMap)
    assertSegmentsAgree(df, Seq("g"), Seq("ord"), 4)
  }

  test("segment boundaries: a key change exactly at each partition boundary") {
    val df = spark.range(0, 200, 1, 1)
      .select((col("id") % 4).as("g"), (col("id") * 79 % 200).as("ord"), values(col("id")).as("v"))
    assert(layout(df, Seq("g"), Seq("ord"), 4, "g") == (0 until 4).map(p => p -> Seq(p.toString)).toMap)
    assertSegmentsAgree(df, Seq("g"), Seq("ord"), 4)
  }

  test("segment boundaries: empty partitions between runs carry the prefix through") {
    // range sorts never leave a gap between non-empty partitions, so the
    // layout is built by hand: runs of g = 1, 2, 3 split by empty partitions
    import spark.implicits._
    val parts: Seq[Seq[(Long, Long, Double)]] = Seq(
      (0L until 10L).map(o => (1L, o, (o * 37 % 100).toDouble)), Nil,
      (10L until 15L).map(o => (1L, o, (o * 53 % 100).toDouble)) ++ (0L until 5L).map(o => (2L, o, 60.0 + o)),
      Nil, Nil,
      (5L until 10L).map(o => (2L, o, (o * 29 % 100).toDouble)) ++ (0L until 4L).map(o => (3L, o, 70.0)),
      (4L until 7L).map(o => (3L, o, 10.0 * o)), Nil)
    val df = parts.flatten.toDF("g", "ord", "v")
    val sorted = spark.sparkContext.parallelize(parts, parts.length)
      .flatMap(_.map { case (g, o, v) => InternalRow(g, o, v) })
    val rows = KernelRows(df, Seq("g"), Seq("v"), Seq("ord"))
    val streakF = Streak.kernel[Double](_ > 50.0)
    val best = (s: Streak.S) => Streak.best(s)
    assert(lines(rows.foldSorted(streakF, Streak.merge, sorted, LongType, "r", best))
      == lines(GroupOps.groupFold(df, Seq("g"), Seq("v"), Seq("ord"), streakF, LongType, emit = best)))
    val lastF = Fold.of1[Double, Double](-1.0, Some(lastMerge))((_, x) => x)
    assert(lines(rows.foldSorted(lastF, lastMerge, sorted, DoubleType, "r", (a: Double) => a))
      == lines(GroupOps.groupFold(df, Seq("g"), Seq("v"), Seq("ord"), lastF, DoubleType)))
    val streakS = Kernel.Scan[Streak.S](streakF.init, streakF.step,
      emit = (s: Streak.S) => Streak.best(s), merge = streakF.merge)
    assert(lines(rows.scanSorted(streakS, Streak.merge, sorted, LongType, "r"))
      == lines(GroupOps.groupScan(df, Seq("g"), Seq("v"), Seq("ord"), streakS, LongType)))
    val lastS = Kernel.Scan.of1[Double, Double](-1.0, merge = Some(lastMerge))((_, x) => x)
    assert(lines(rows.scanSorted(lastS, lastMerge, sorted, DoubleType, "r"))
      == lines(GroupOps.groupScan(df, Seq("g"), Seq("v"), Seq("ord"), lastS, DoubleType)))
  }

  test("segment boundaries: null ordering values sort first inside a key that spans partitions") {
    val df = spark.range(0, 200, 1, 1)
      .select((col("id") % 2).as("g"),
        when(col("id") % 9 === 0, lit(null)).otherwise(col("id") * 79 % 200).as("ord"),
        values(col("id")).as("v"))
    val byPart = layout(df, Seq("g"), Seq("ord"), 4, "g")
    assert(byPart.values.count(_.contains("0")) > 1 && byPart.values.count(_.contains("1")) > 1,
      s"each key should span partitions: $byPart")
    assert(layout(df, Seq("g"), Seq("ord"), 4, "ord").values.count(_.contains("null")) == 2,
      "both keys' null ordering values should open their runs")
    assertSegmentsAgree(df, Seq("g"), Seq("ord"), 4)
  }

  test("segment boundaries: a StringType leading order column splits a hot key") {
    val df = spark.range(0, 200, 1, 1)
      .select(lit(3L).as("g"), format_string("k%04d", col("id") * 79 % 200).as("ord_s"),
        col("id").as("ord"), values(col("id")).as("v"))
    assert(layout(df, Seq("g"), Seq("ord_s", "ord"), 4, "g").size == 4)
    assertSegmentsAgree(df, Seq("g"), Seq("ord_s", "ord"), 4)
  }

  test("commutative groupFold (keys-only sort) == ordered groupFold per group") {
    // max is exactly commutative in doubles (unlike a double sum), so
    // the keys-only-sorted fast path must agree bit-for-bit with the
    // fully ordered one on every group
    val commutative = Fold.of1[Double, Double](0.0,
      merge = Some(Merge(0.0, (a: Double, b: Double) => math.max(a, b), commutative = true)))(math.max)
    val ordered = Fold.of1[Double, Double](0.0,
      merge = Some(Merge(0.0, (a: Double, b: Double) => math.max(a, b))))(math.max)
    def run(k: Fold[Double]) = GroupOps.groupFold(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType, "m")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run(commutative) == run(ordered))
  }

  test("groupFoldMergeable rejects kernels without a Merge declaration") {
    val plain = Fold[Double](0.0, (acc, args) => acc + args(0).asInstanceOf[Double])
    intercept[IllegalArgumentException] {
      GroupOps.groupFoldMergeable(
        events, Seq("user_id"), Seq("value"), Seq("ts"), plain, DoubleType)
    }
  }

  test("SortedFoldAggregator under groupBy().agg() == GroupOps.groupFold (balance kernel)") {
    val balance = Fold[Double](0.0, (acc, args) => {
      val x = args(0).asInstanceOf[Double]
      if (acc + x <= 1000.0) acc + x else acc
    })
    val viaAgg = events.groupBy("user_id")
      .agg(SortedFoldAggregator.foldColumn(
        Seq(col("ts"), col("event_id")), Seq(col("value") -> DoubleType), balance, DoubleType).as("balance"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaGroupOps = events
      .groupFold(Seq("user_id"), Seq("value"), Seq("ts", "event_id"), balance, DoubleType)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaAgg == viaGroupOps)
  }

  test("SortedFoldAggregator composes with other aggregates in one agg list") {
    val balance = Fold[Double](0.0, (acc, args) => {
      val x = args(0).asInstanceOf[Double]
      if (acc + x <= 1000.0) acc + x else acc
    })
    val r = events.groupBy("user_id")
      .agg(
        SortedFoldAggregator.foldColumn(Seq(col("ts"), col("event_id")), Seq(col("value") -> DoubleType), balance, DoubleType).as("balance"),
        count(lit(1)).as("n"),
        max(col("value")).as("mx"))
      .orderBy("user_id").limit(3).collect()
    assert(r.forall(row => row.getDouble(1) <= 1000.0 && row.getLong(2) > 0))
  }

  test("SortedFoldAggregator drops null value rows (fold null policy), does not throw") {
    // plant nulls in the value column; the fold must silently drop those
    // rows — a primitive-element input encoder would throw instead
    // (regression: null value row crashed the (Seq[Long], Seq[Double])
    // encoder before reduce ever saw it).
    val withNulls = events.withColumn("value_n", when(col("value") > 50.0, lit(null)).otherwise(col("value")))
    val sumFold = Fold[Double](0.0, (acc, args) => acc + args(0).asInstanceOf[Double])
    val viaAgg = withNulls.groupBy("user_id")
      .agg(SortedFoldAggregator.foldColumn(
        Seq(col("ts"), col("event_id")), Seq(col("value_n") -> DoubleType), sumFold, DoubleType).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaNative = withNulls.groupBy("user_id").agg(sum("value_n").as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    viaAgg.foreach { case (k, v) => assert(math.abs(v - viaNative(k)) < 1e-6, s"user $k") }
  }

  test("SortedFoldAggregator handles non-double value types (long cap kernel)") {
    // a fold whose values are longs, composing with a native agg — the
    // generic typed path (the old aggregator hard-coded Seq[Double]).
    val capCount = Fold[Long](0L, (acc, args) => {
      val id = args(0).asInstanceOf[Long]
      if (id % 3 == 0) acc + 1 else acc
    })
    val r = events.groupBy("user_id")
      .agg(
        SortedFoldAggregator.foldColumn(
          Seq(col("ts"), col("event_id")), Seq(col("event_id") -> org.apache.spark.sql.types.LongType),
          capCount, org.apache.spark.sql.types.LongType).as("div3"),
        count(when(col("event_id") % 3 === 0, 1)).as("expected"))
      .collect()
    r.foreach(row => assert(row.getLong(1) == row.getLong(2), s"user ${row.getLong(0)}"))
  }

  test("scanListCol maxGroupSize guard: oversize groups fail loudly, bounded groups unaffected") {
    val cum = (acc: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) =>
      acc + x.getField(ExprOps.v(0))
    // groups of ~67 rows vs maxGroupSize=10: must raise, naming the bound
    val e = intercept[Exception] {
      events.groupBy("user_id")
        .agg(ExprOps.scanListCol(Seq(col("ts"), col("event_id")), Seq(col("value")),
          lit(0.0), cum, maxGroupSize = 10).as("s"))
        .collect()
    }
    val msg = Option(e.getMessage).getOrElse("") + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("maxGroupSize=10") && msg.contains("groupScan"),
      s"guard must name the bound and the unbounded alternative: $msg")
    // the same scan with the bound above the group size is untouched:
    // identical to the unguarded default
    val guarded = events.groupBy("user_id")
      .agg(ExprOps.scanListCol(Seq(col("ts"), col("event_id")), Seq(col("value")),
        lit(0.0), cum, maxGroupSize = 1000).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val default = events.groupBy("user_id")
      .agg(ExprOps.scanListCol(Seq(col("ts"), col("event_id")), Seq(col("value")),
        lit(0.0), cum).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(guarded == default, "a satisfied guard must not change results")
  }
}
