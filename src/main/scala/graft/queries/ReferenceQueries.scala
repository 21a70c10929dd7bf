package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plumba.{CollectOps, ExprOps, Kernel, Streak, WindowOps}
import graft.plumba.syntax._

/** The reference-derived operator queries (SURVEY §2.1/§2.2) on the driver
  * test tables. Each entry pairs a Spark implementation with (where
  * ANSI-SQL-expressible) a DuckDB oracle in [[SparkEntry.oracleSql]].
  *
  * Scale notes per query are inline; the general stance (SURVEY §7.4):
  * associative kernels run as parallel window aggregates or partition-
  * partial folds; non-associative kernels parallelize across groups and
  * stay sequential within a group; whole-frame non-associative ops are
  * sequential by the reference's own semantics.
  */
object ReferenceQueries {
  import Tables.{decSum, sqlDecSum}

  type Q = (SparkSession, String) => DataFrame

  /** Running max of o_totalprice over order date — the reference's first
    * scan example (examples_scan.py:9–25) on parquet. The kernel declares
    * its merge law, so collectScan routes it through the two-pass parallel
    * prefix scan by default — no single-partition WindowExec anywhere
    * (a global-ORDER-BY window frame would move all rows to one task;
    * the parallel path keeps every executor busy at 100 TB). */
  val scanRunningMax: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    CollectOps.collectScan(
        o, Seq("o_totalprice"), Seq("o_orderdate", "o_orderkey"),
        Kernel.Scan.of1[Double, Double](0.0,
          merge = Some(Kernel.Merge(0.0, (a: Double, b: Double) => math.max(a, b))))(math.max),
        DoubleType, "hi")
      .orderBy("o_orderdate", "o_orderkey")
      .select("o_orderkey", "hi")
  }

  /** Global cumulative sum of event value by time through the parallel
    * two-pass prefix scan (merge law: decimal addition). The accumulator
    * is an exact decimal(18,6) so partition order never changes the
    * result; emitted as double exactly like Spark's own decimal→double
    * cast (BigDecimal.doubleValue), matching the DuckDB oracle. */
  val scanCumsumValue: Q = (s, dir) => {
    import java.math.{BigDecimal => JBD}
    val ev = Tables(s, dir, "events")
      .withColumn("value_dec", col("value").cast("decimal(18,6)"))
    val add = (a: JBD, b: JBD) => a.add(b)
    CollectOps.collectScan(
        ev, Seq("value_dec"), Seq("ts", "event_id"),
        Kernel.Scan.of1[JBD, JBD](JBD.ZERO,
          emit = (a: JBD) => a.doubleValue,
          merge = Some(Kernel.Merge(JBD.ZERO, add)))(add),
        DoubleType, "running")
      .orderBy("ts", "event_id")
      .select("event_id", "running")
  }

  /** Per-customer running max — the reference's per-group scan shape
    * (examples_scan.py:64–82) in its associative form: window partitioned
    * by group key ⇒ fully parallel across customers at any scale. */
  val groupScanCummaxPerCust: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    o.withColumn("hi", WindowOps.cumMax(col("o_totalprice"), w))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      .select("o_custkey", "o_orderkey", "hi")
  }

  /** Per-customer running max through the mergeable group scan
    * ([[graft.plumba.GroupOps.groupScanMergeable]]): one range sort on
    * (custkey, orderdate, orderkey) into 8 partitions spreads a hot
    * customer's rows over several of them, and each partition re-scans
    * from the prefix state of the customer it continues — the skew path
    * for per-group scans at scale. Same oracle as the window form
    * [[groupScanCummaxPerCust]]. */
  val groupScanCummaxSalted: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    graft.plumba.GroupOps.groupScanMergeable(
        o, Seq("o_custkey"), Seq("o_totalprice"), Seq("o_orderdate", "o_orderkey"),
        Kernel.Scan.of1[Double, Double](0.0,
          merge = Some(Kernel.Merge(0.0, (a: Double, b: Double) => math.max(a, b))))(math.max),
        DoubleType, "hi", buckets = 8)
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      .select("o_custkey", "o_orderkey", "hi")
  }

  /** Longest streak of discounted lineitems in order — the reference's
    * run-length fold (examples_fold.py:11–40) in mergeable segment form:
    * parallel partition partials + ordered combine (the 100 TB path;
    * a (best,cur) kernel would force a sequential pass). */
  val foldLongestStreak: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val streak = Streak.best(
      li.collectFold(Seq("l_discount"), Seq("l_orderkey", "l_linenumber"), Streak.kernel[Double](_ > 0.05)))
    s.range(1).select(lit(streak).cast("bigint").as("streak"))
  }

  /** Fold with extra_args (reference tests/test_collect_fold.py:20–29
    * semantics: extras are added on every row): init 7, extras (0.25, 0.5)
    * over l_quantity. Declared mergeable AND COMMUTATIVE: every partial
    * is exact in doubles (quantities are integral, extras are
    * quarter-multiples), so addition order is irrelevant and
    * [[graft.plumba.CollectOps.collectFold]] skips the global range sort
    * entirely — one shuffle-free pass of partition partials. The DuckDB
    * oracle matches bit-for-bit via the closed form 7 + 0.75·n + Σqty. */
  val foldSumExtraArgs: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val k = Kernel.Fold[Double](
      7.0,
      (acc, args) => acc + args(0).asInstanceOf[Double] + args(1).asInstanceOf[Double] + args(2).asInstanceOf[Double],
      extras = Vector(0.25, 0.5),
      merge = Some(Kernel.Merge(0.0, (a: Double, b: Double) => a + b, commutative = true)))
    val total = li.collectFold(Seq("l_quantity"), Seq("l_orderkey", "l_linenumber"), k)
    s.range(1).select(lit(total).cast("double").as("fold_sum"))
  }

  /** Non-associative credit-card balance kernel (examples_fold.py:47–75)
    * per user: parallel across the unbounded user dimension, sequential
    * within each user's event stream (GroupOps secondary sort). The
    * DuckDB oracle replays the same fold with list_reduce over an
    * ordered list — same op sequence ⇒ identical doubles. */
  val groupFoldBalancePerUser: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val k = Kernel.Fold[Double](0.0, (acc, args) => {
      val x = args(0).asInstanceOf[Double]
      if (acc + x <= 1000.0) acc + x else acc
    })
    ev.groupFold(Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType, "balance")
      .orderBy("user_id")
  }

  /** The same per-user balance fold expressed at the Column level
    * (ExprOps.foldCol = aggregate() HOF over a sorted collect_list) —
    * the reference's Expr.plumba.fold composition shape, fully inside
    * Catalyst codegen. Differentially verified against the GroupOps
    * path by sharing one oracle. */
  val exprFoldBalancePerUser: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val fold = ExprOps.foldCol(
      Seq(col("ts"), col("event_id")),
      Seq(col("value")),
      lit(0.0).cast("double"),
      (acc, x) => {
        val p = x.getField(ExprOps.v(0))
        when(acc + p <= lit(1000.0), acc + p).otherwise(acc)
      })
    ev.groupBy("user_id").agg(fold.as("balance")).orderBy("user_id")
  }

  /** Whole-frame non-associative balance scan — reference parity path
    * (single ordered pass, exactly the reference's own sequential
    * execution model). Not SQL-expressible ⇒ rows-only check; pinned by
    * golden tests instead (FIXTURES A6). */
  val scanBalanceLimit: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val k = Kernel.Scan[Double](0.0, (acc, args) => {
      val x = args(0).asInstanceOf[Double]
      if (acc + x <= 1000.0) acc + x else acc
    })
    ev.collectScan(Seq("value"), Seq("ts", "event_id"), k, DoubleType, "balance")
      .orderBy("ts", "event_id")
      .select("event_id", "balance")
  }

  /** Per-user balance scan (trajectory per event) — non-associative,
    * parallel across users via GroupOps. Rows-only check. */
  val groupScanBalancePerUser: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val k = Kernel.Scan[Double](0.0, (acc, args) => {
      val x = args(0).asInstanceOf[Double]
      if (acc + x <= 1000.0) acc + x else acc
    })
    ev.groupScan(Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType, "balance")
      .orderBy("user_id", "ts", "event_id")
      .select("user_id", "event_id", "balance")
  }

  /** Multi-in/multi-out fold (examples_fold.py:101–153 shape): cap total
    * spend and units over (l_extendedprice, l_quantity). Non-associative
    * whole-frame ⇒ sequential parity path; rows-only check (pinned by
    * FIXTURES A8 goldens in tests). */
  val foldMultiInOut: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val k = Kernel.Fold[(Double, Double)](
      (0.0, 0.0),
      (acc, args) => {
        val (maxBal, maxUnits) = (args(0).asInstanceOf[Double], args(1).asInstanceOf[Double])
        val (p, u) = (args(2).asInstanceOf[Double], args(3).asInstanceOf[Double])
        if (acc._1 + p <= maxBal && acc._2 + u <= maxUnits) (acc._1 + p, acc._2 + u) else acc
      },
      extras = Vector(1.0e9, 1.0e6))
    val (bal, units) =
      li.collectFold(Seq("l_extendedprice", "l_quantity"), Seq("l_orderkey", "l_linenumber"), k)
    s.range(1).select(lit(bal).cast("double").as("balance"), lit(units).cast("double").as("units"))
  }

  /** Multi-state scan (the reference's tuple-accumulator cum_sum,
    * tests/test_collect_scan.py:190–208): a (Double, BigDecimal) tuple
    * accumulator threads two running sums in ONE pass through the
    * parallel two-pass prefix scan (merge = element-wise add), emitted
    * as a struct and unpacked — no single-partition WindowExec. */
  val scanMultiState: Q = (s, dir) => {
    import java.math.{BigDecimal => JBD}
    type S = (Double, JBD)
    val li = Tables(s, dir, "lineitem")
      .withColumn("price_dec", col("l_extendedprice").cast("decimal(18,6)"))
    val k = Kernel.Scan.of2[S, Double, JBD](
      (0.0, JBD.ZERO),
      emit = (a: S) => Row(a._1, a._2.doubleValue),
      merge = Some(Kernel.Merge[S]((0.0, JBD.ZERO), (x, y) => (x._1 + y._1, x._2.add(y._2)))))(
      (a, q, p) => (a._1 + q, a._2.add(p)))
    CollectOps.collectScan(li, Seq("l_quantity", "price_dec"),
        Seq("l_orderkey", "l_linenumber"), k,
        StructType(Seq(StructField("qty_run", DoubleType), StructField("price_run", DoubleType))), "st")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("st.qty_run").as("qty_run"), col("st.price_run").as("price_run"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Array-output scan with whole-row null masking — the reference's
    * pl.Array multi-output scan (tests/test_collect_scan.py:190–208): a
    * tuple accumulator emitted as array<double>; a row with a null in any
    * selected column emits a whole-null array and does NOT advance the
    * accumulator. Nulls are planted deterministically (l_quantity = 17
    * rows, ~2% of lineitem). Parallel two-pass prefix scan; the array is
    * unpacked to scalars only for the driver's pandas-based compare. */
  val scanMultiOutArray: Q = (s, dir) => {
    import java.math.{BigDecimal => JBD}
    type S = (Double, JBD)
    val li = Tables(s, dir, "lineitem")
      .withColumn("qty_n", when(col("l_quantity") === 17.0, lit(null)).otherwise(col("l_quantity")))
      .withColumn("price_n",
        when(col("l_quantity") === 17.0, lit(null))
          .otherwise(col("l_extendedprice")).cast("decimal(18,6)"))
    val k = Kernel.Scan.of2[S, Double, JBD](
      (0.0, JBD.ZERO),
      emit = (a: S) => Seq(a._1, a._2.doubleValue),
      merge = Some(Kernel.Merge[S]((0.0, JBD.ZERO), (x, y) => (x._1 + y._1, x._2.add(y._2)))))(
      (a, q, p) => (a._1 + q, a._2.add(p)))
    CollectOps.collectScan(li, Seq("qty_n", "price_n"), Seq("l_orderkey", "l_linenumber"), k,
        ArrayType(DoubleType), "rs")
      .select(col("l_orderkey"), col("l_linenumber"),
        element_at(col("rs"), 1).as("rs_qty"), element_at(col("rs"), 2).as("rs_price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Scan under agg returning a list per group — the reference's
    * per-group scan-list shape (examples_scan.py:79–82): per-user
    * trajectory of running sums built as an array column (order-restored
    * sort_array(collect_list) + transform), then posexploded to
    * (user_id, pos, rs) rows — the list construction stays in the plan;
    * the row shape is for the driver's compare (pandas cannot hash an
    * ndarray cell). */
  val groupScanListCumsum: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val w = WindowOps.running(Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
    val rs = sum(col("value").cast("decimal(18,6)")).over(w).cast("double")
    ev.withColumn("rs", rs)
      .groupBy("user_id")
      .agg(transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"), col("rs")))),
        x => x.getField("rs")).as("traj"))
      .select(col("user_id"), posexplode(col("traj")).as(Seq("pos", "rs")))
      .orderBy("user_id", "pos")
  }

  /** TWIN of [[groupScanListCumsum]] routed through the Column-level
    * [[graft.plumba.ExprOps.scanListCol]] — the reference's literal
    * `Expr.plumba.scan`-under-agg API shape (examples_scan.py:79–82):
    * the running sum is computed by the O(n) `array_scan` higher-order
    * function inside ONE aggregation, not by a window. Shares the
    * window-formulation's oracle verbatim, so the driver pins both the
    * dispatched (window) and explicit (Column fold) layers to the same
    * values — the pattern the running-max twin pair established. */
  val groupScanListCumsumExpr: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val traj = ExprOps.scanListCol(
      ord = Seq(col("ts"), col("event_id")),
      values = Seq(col("value")),
      init = lit(0).cast("decimal(28,6)"),
      step = (acc, x) => (acc + x.getField(ExprOps.v(0)).cast("decimal(18,6)")).cast("decimal(28,6)"),
      emit = _.cast("double"))
    ev.groupBy("user_id").agg(traj.as("traj"))
      .select(col("user_id"), posexplode(col("traj")).as(Seq("pos", "rs")))
      .orderBy("user_id", "pos")
  }

  /** Per-order product fold (the reference's `multiply` kernel,
    * tests/test_collect_fold.py:96–97) via the Column-level foldCol.
    * Restricted to the first five line numbers so the integer product
    * stays below 2^53 at any scale factor — exact in doubles in any
    * evaluation order, so DuckDB's product() is an exact oracle (an
    * unbounded product overflows exactness: observed 1-ulp divergence
    * at sf0.1 on a 1.6e23 product). */
  val groupFoldProduct: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem").filter(col("l_linenumber") <= 5)
    val fold = ExprOps.foldCol(
      Seq(col("l_linenumber")), Seq(col("l_quantity")),
      lit(1.0).cast("double"),
      (acc, x) => acc * x.getField(ExprOps.v(0)))
    li.groupBy("l_orderkey").agg(fold.as("qty_product")).orderBy("l_orderkey")
  }

  /** The running-max scan again, calling
    * [[graft.plumba.CollectOps.collectScanMergeable]] EXPLICITLY —
    * while [[scanRunningMax]] reaches the same two-pass parallel scan
    * through collectScan's merge-law auto-dispatch. Sharing one oracle
    * pins both API layers (explicit and dispatched) to identical
    * results. */
  val scanRunningMaxParallel: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    graft.plumba.CollectOps.collectScanMergeable(
        o, Seq("o_totalprice"), Seq("o_orderdate", "o_orderkey"),
        Kernel.Scan.of1[Double, Double](0.0)(math.max),
        Kernel.Merge(0.0, (a: Double, b: Double) => math.max(a, b)),
        DoubleType, "hi")
      .orderBy("o_orderdate", "o_orderkey")
      .select("o_orderkey", "hi")
  }

  /** The per-user balance fold THROUGH the generic typed
    * [[graft.plumba.SortedFoldAggregator]], composed with NATIVE
    * aggregates (decimal sum, count) in one `agg(...)` list — the
    * reference's Expr.fold composability under group_by().agg()
    * (examples_fold.py:87–93) on the Aggregator route. Oracle: the
    * recursive-CTE balance replay joined to plain SQL aggregates. */
  val groupFoldMixedAgg: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val k = Kernel.Fold[Double](0.0, (acc, args) => {
      val x = args(0).asInstanceOf[Double]
      if (acc + x <= 1000.0) acc + x else acc
    })
    ev.groupBy("user_id")
      .agg(
        graft.plumba.SortedFoldAggregator.foldColumn(
          Seq(col("ts"), col("event_id")), Seq(col("value") -> DoubleType), k, DoubleType).as("balance"),
        decSum(col("value")).as("total"),
        count(lit(1)).as("n"))
      .orderBy("user_id")
  }

  /** Longest big-order streak per customer through the mergeable group
    * fold ([[graft.plumba.GroupOps.groupFoldMergeable]]): one range sort
    * on (custkey, orderdate, orderkey) spreads a skewed customer's
    * ordered fold over several partitions, chained by prefix seeds.
    * Oracle: per-customer islands SQL. */
  val groupFoldStreakPerCust: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
    graft.plumba.GroupOps.groupFoldMergeable(
        o, Seq("o_custkey"), Seq("o_totalprice"), Seq("o_orderdate", "o_orderkey"),
        Streak.kernel[Double](_ > 300000.0), LongType, "streak",
        buckets = 8, emit = (a: Streak.S) => Streak.best(a))
      .orderBy("o_custkey")
  }

  /** Per-customer MAX GAP between consecutive orders through the
    * mergeable group fold — the Datetime/Duration kernel
    * type surface (reference src/polars_numba/__init__.py:408–424;
    * date data in examples_fold.py:17) exercised END-TO-END, not just
    * unit-tested: the fold's value column is TimestampType (the kernel
    * receives java.sql.Timestamp), the accumulator carries a
    * java.time.Duration ([[graft.plumba.TimeGap]]), the fold result is
    * a DayTimeIntervalType column, and the gate output converts it
    * exactly (interval→bigint = whole seconds; date-granular gaps are
    * second-exact). Oracle: per-customer max of lag-gaps in epoch
    * seconds. */
  val orderGapPerCust: Q = (s, dir) => {
    val o = Tables(s, dir, "orders")
      .withColumn("o_ts", col("o_orderdate").cast("timestamp"))
    graft.plumba.GroupOps.groupFoldMergeable(
        o, Seq("o_custkey"), Seq("o_ts"), Seq("o_ts", "o_orderkey"),
        graft.plumba.TimeGap.kernel, DayTimeIntervalType(), "max_gap",
        buckets = 8, emit = graft.plumba.TimeGap.emit)
      .filter(col("max_gap").isNotNull) // customers with <2 orders: no gap
      .select(col("o_custkey"),
        col("max_gap").cast("bigint").as("max_gap_sec"),
        expr("CAST(max_gap AS BIGINT) div 86400").as("max_gap_days"))
      .orderBy("o_custkey")
  }

  val defs: Map[String, Q] = Map(
    "order_gap_per_cust" -> orderGapPerCust,
    "scan_running_max_par" -> scanRunningMaxParallel,
    "group_fold_streak_per_cust" -> groupFoldStreakPerCust,
    "group_fold_product" -> groupFoldProduct,
    "scan_multi_state" -> scanMultiState,
    "scan_multi_out_array" -> scanMultiOutArray,
    "group_scan_list_cumsum" -> groupScanListCumsum,
    "group_scan_list_cumsum_expr" -> groupScanListCumsumExpr,
    "scan_running_max" -> scanRunningMax,
    "scan_cumsum_value" -> scanCumsumValue,
    "group_scan_cummax_per_cust" -> groupScanCummaxPerCust,
    "group_scan_cummax_salted" -> groupScanCummaxSalted,
    "fold_longest_streak" -> foldLongestStreak,
    "fold_sum_extra_args" -> foldSumExtraArgs,
    "group_fold_balance_per_user" -> groupFoldBalancePerUser,
    "expr_fold_balance_per_user" -> exprFoldBalancePerUser,
    "group_fold_mixed_agg" -> groupFoldMixedAgg,
    "scan_balance_limit" -> scanBalanceLimit,
    "group_scan_balance_per_user" -> groupScanBalancePerUser,
    "fold_multi_in_out" -> foldMultiInOut
  )

  /** DuckDB replay of the non-associative per-user fold via a recursive
    * CTE stepping through each user's ordered event list. (A lambda
    * `list_reduce` formulation misaligns rows across groups in DuckDB
    * 1.0.0 under parallel evaluation — observed empirically; the CTE form
    * is exact.) Same op sequence as the kernel ⇒ identical doubles. */
  private val balanceOracle =
    """WITH RECURSIVE seq AS (
      |  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
      |  FROM events GROUP BY user_id),
      |r AS (
      |  SELECT user_id, vals, 1 AS i, CAST(0.0 AS DOUBLE) AS acc FROM seq
      |  UNION ALL
      |  SELECT user_id, vals, i + 1,
      |    CASE WHEN acc + vals[i] <= 1000.0 THEN acc + vals[i] ELSE acc END
      |  FROM r WHERE i <= len(vals))
      |SELECT user_id, acc AS balance FROM r WHERE i = len(vals) + 1 ORDER BY user_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // the mergeable Duration fold is a max over consecutive-order gaps; the
    // lag-window replay is exact in epoch seconds (dates at midnight)
    "order_gap_per_cust" ->
      """WITH g AS (SELECT o_custkey,
        |    (epoch_us(o_orderdate) - lag(epoch_us(o_orderdate)) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) // 1000000 AS gap_sec
        |  FROM orders)
        |SELECT o_custkey, CAST(max(gap_sec) AS BIGINT) AS max_gap_sec,
        |  CAST(max(gap_sec) // 86400 AS BIGINT) AS max_gap_days
        |FROM g WHERE gap_sec IS NOT NULL
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "scan_running_max_par" ->
      """SELECT o_orderkey,
        |  MAX(o_totalprice) OVER (ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        |FROM orders ORDER BY o_orderdate, o_orderkey""".stripMargin,
    "group_fold_streak_per_cust" ->
      """WITH t AS (SELECT o_custkey, o_totalprice > 300000 AS c,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders),
        |runs AS (SELECT o_custkey, count(*) AS len FROM (
        |    SELECT o_custkey, c, rn - row_number() OVER (PARTITION BY o_custkey, c ORDER BY rn) AS grp FROM t)
        |  WHERE c GROUP BY o_custkey, grp),
        |best AS (SELECT o_custkey, max(len) AS streak FROM runs GROUP BY o_custkey)
        |SELECT k.o_custkey, CAST(COALESCE(b.streak, 0) AS BIGINT) AS streak
        |FROM (SELECT DISTINCT o_custkey FROM orders) k
        |LEFT JOIN best b ON k.o_custkey = b.o_custkey
        |ORDER BY k.o_custkey""".stripMargin,
    "group_fold_product" ->
      """SELECT l_orderkey, product(l_quantity) AS qty_product
        |FROM lineitem WHERE l_linenumber <= 5
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "scan_multi_state" ->
      """SELECT l_orderkey, l_linenumber,
        |  SUM(l_quantity) OVER w AS qty_run,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS price_run
        |FROM lineitem
        |WINDOW w AS (ORDER BY l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // the _expr twin shares this oracle verbatim (same values, explicit
    // Column-level scan instead of the window formulation)
    "group_scan_list_cumsum_expr" ->
      """SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS pos,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS rs
        |FROM events ORDER BY user_id, pos""".stripMargin,
    "group_scan_list_cumsum" ->
      """SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS pos,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS rs
        |FROM events ORDER BY user_id, pos""".stripMargin,
    "scan_multi_out_array" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity = 17 THEN NULL
        |       ELSE SUM(CASE WHEN l_quantity <> 17 THEN l_quantity END) OVER w END AS rs_qty,
        |  CASE WHEN l_quantity = 17 THEN NULL
        |       ELSE CAST(SUM(CASE WHEN l_quantity <> 17
        |                     THEN CAST(l_extendedprice AS DECIMAL(18,6)) END) OVER w AS DOUBLE) END AS rs_price
        |FROM lineitem
        |WINDOW w AS (ORDER BY l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "scan_running_max" ->
      """SELECT o_orderkey,
        |  MAX(o_totalprice) OVER (ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        |FROM orders ORDER BY o_orderdate, o_orderkey""".stripMargin,
    "scan_cumsum_value" ->
      s"""SELECT event_id,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
         |FROM events ORDER BY ts, event_id""".stripMargin,
    "group_scan_cummax_per_cust" ->
      """SELECT o_custkey, o_orderkey,
        |  MAX(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "group_scan_cummax_salted" ->
      """SELECT o_custkey, o_orderkey,
        |  MAX(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "fold_longest_streak" ->
      """WITH t AS (SELECT l_discount > 0.05 AS c,
        |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn FROM lineitem),
        |  g AS (SELECT c, rn - row_number() OVER (PARTITION BY c ORDER BY rn) AS grp FROM t)
        |SELECT CAST(max(cnt) AS BIGINT) AS streak
        |FROM (SELECT count(*) AS cnt FROM g WHERE c GROUP BY grp)""".stripMargin,
    "fold_sum_extra_args" ->
      "SELECT CAST(7 + 0.75 * count(*) + sum(l_quantity) AS DOUBLE) AS fold_sum FROM lineitem",
    "group_fold_balance_per_user" -> balanceOracle,
    "expr_fold_balance_per_user" -> balanceOracle,
    "group_fold_mixed_agg" ->
      s"""WITH RECURSIVE seq AS (
         |  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
         |  FROM events GROUP BY user_id),
         |r AS (
         |  SELECT user_id, vals, 1 AS i, CAST(0.0 AS DOUBLE) AS acc FROM seq
         |  UNION ALL
         |  SELECT user_id, vals, i + 1,
         |    CASE WHEN acc + vals[i] <= 1000.0 THEN acc + vals[i] ELSE acc END
         |  FROM r WHERE i <= len(vals)),
         |fin AS (SELECT user_id, acc AS balance FROM r WHERE i = len(vals) + 1),
         |agg AS (SELECT user_id, ${Tables.sqlDecSum("value")} AS total, count(*) AS n
         |        FROM events GROUP BY user_id)
         |SELECT f.user_id, f.balance, a.total, a.n
         |FROM fin f JOIN agg a USING (user_id) ORDER BY f.user_id""".stripMargin,
    // Per-user balance TRAJECTORY: same recursive-CTE replay as
    // balanceOracle but emitting the accumulator at every step (row i of
    // each user's ordered list), not just the final value. Identical op
    // sequence in doubles ⇒ bit-identical to the kernel.
    "group_scan_balance_per_user" ->
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals,
        |         list(event_id ORDER BY ts, event_id) AS eids
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT user_id, vals, eids, 0 AS i, CAST(0.0 AS DOUBLE) AS acc FROM seq
        |  UNION ALL
        |  SELECT user_id, vals, eids, i + 1,
        |    CASE WHEN acc + vals[i + 1] <= 1000.0 THEN acc + vals[i + 1] ELSE acc END
        |  FROM r WHERE i < len(vals))
        |SELECT user_id, eids[i] AS event_id, acc AS balance
        |FROM r WHERE i >= 1
        |ORDER BY user_id, i""".stripMargin,
    // Whole-frame balance scan: a naive row-per-step recursion is
    // quadratic in DuckDB (the list re-scans per iteration), so the
    // oracle replays our own two-pass prefix-scan decomposition in SQL:
    // pass 1 threads exact chunk seeds sequentially (depth = #chunks,
    // within-chunk folds via single-row list_reduce — exact; the
    // DuckDB 1.0.0 list_reduce misalignment bug is a cross-row artifact
    // and cannot occur on one row per step); pass 2 replays every
    // chunk's trajectory in parallel from its exact seed. Lawful for a
    // non-associative kernel because the seeds are sequentially exact.
    "scan_balance_limit" ->
      """WITH RECURSIVE rows_ AS (
        |  SELECT event_id, CAST(value AS DOUBLE) AS v,
        |         row_number() OVER (ORDER BY ts, event_id) AS rn
        |  FROM events),
        |chunks AS (
        |  SELECT CAST((rn - 1) // 250 AS INT) AS cid,
        |         list(v ORDER BY rn) AS vals,
        |         list(event_id ORDER BY rn) AS eids
        |  FROM rows_ GROUP BY 1),
        |seeds AS (
        |  SELECT 0 AS cid, CAST(0.0 AS DOUBLE) AS seed
        |  UNION ALL
        |  SELECT s.cid + 1,
        |    list_reduce(list_prepend(s.seed, c.vals),
        |      (acc, x) -> CASE WHEN acc + x <= 1000.0 THEN acc + x ELSE acc END)
        |  FROM seeds s JOIN chunks c ON c.cid = s.cid),
        |r AS (
        |  SELECT c.cid, c.vals, c.eids, 0 AS i, s.seed AS acc
        |  FROM chunks c JOIN seeds s ON s.cid = c.cid
        |  UNION ALL
        |  SELECT cid, vals, eids, i + 1,
        |    CASE WHEN acc + vals[i + 1] <= 1000.0 THEN acc + vals[i + 1] ELSE acc END
        |  FROM r WHERE i < len(vals))
        |SELECT eids[i] AS event_id, acc AS balance
        |FROM r WHERE i >= 1
        |ORDER BY cid, i""".stripMargin,
    // Whole-frame 2-state capped fold: single-row list_reduce replay of
    // the same op sequence (exact; validated against an independent
    // sequential replay — 999999250.6100004 / 478737.0 at sf0.01).
    "fold_multi_in_out" ->
      """WITH seq AS (
        |  SELECT list(struct_pack(p := CAST(l_extendedprice AS DOUBLE), q := CAST(l_quantity AS DOUBLE))
        |              ORDER BY l_orderkey, l_linenumber) AS xs
        |  FROM lineitem),
        |f AS (
        |  SELECT list_reduce(
        |    list_prepend(struct_pack(p := 0.0, q := 0.0), xs),
        |    (acc, x) -> CASE WHEN acc.p + x.p <= 1.0e9 AND acc.q + x.q <= 1.0e6
        |                THEN struct_pack(p := acc.p + x.p, q := acc.q + x.q)
        |                ELSE struct_pack(p := acc.p, q := acc.q) END) AS r
        |  FROM seq)
        |SELECT r.p AS balance, r.q AS units FROM f""".stripMargin
  )
}
