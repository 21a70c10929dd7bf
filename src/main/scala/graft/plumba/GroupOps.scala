package graft.plumba

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Per-group ordered fold/scan — the Spark-native counterpart of the
  * reference's `group_by("user").agg(expr.plumba.fold/scan(...))`
  * (reference: examples_fold.py:81–97, examples_scan.py:64–82).
  *
  * This is the reference's own scaling story made distributed: parallelism
  * *across* groups (unbounded group count spread over executors),
  * strictly sequential order *within* a group (SURVEY §7.4).
  *
  *  - [[groupFold]] / [[groupScan]] use the secondary-sort pattern —
  *    `repartition(keys)` + `sortWithinPartitions(keys, order)` + a single
  *    streaming pass with group-change detection — so a group never has
  *    to fit in memory and no per-group `collect_list` buffer is built.
  *    A whole group runs in one task.
  *  - For kernels with a lawful [[Kernel.Merge]], [[groupFoldMergeable]] /
  *    [[groupScanMergeable]] run the segmented two-pass scan over one
  *    range sort on `(keys, order)` ([[KernelRows]]): a hot group's rows
  *    spread over several range partitions, and each partition re-scans
  *    from the exact prefix state of the group it continues.
  *
  * Every path detects group changes with Spark's grouping equality on
  * internal values (NaN equals NaN, null equals null), so its groups are
  * the groups of `df.groupBy(keyCols)`. */
object GroupOps {

  /** Per-group ordered fold → one row per group: (keyCols..., resultName).
    * Fold null policy: rows with nulls in value columns are dropped;
    * groups whose rows are all dropped still emit `init`-folded state.
    * Kernels whose merge law is declared COMMUTATIVE sort by the group
    * keys ONLY — group contiguity is all the streaming pass needs when
    * row order inside a group is irrelevant, so the per-partition sort
    * drops the ordering columns (same shuffle, cheaper sort key). */
  def groupFold[A](
      df: DataFrame,
      keyCols: Seq[String],
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Fold[A],
      resultType: DataType,
      resultName: String = "fold",
      emit: A => Any = (a: A) => a: Any): DataFrame = {
    require(keyCols.nonEmpty, "at least one group key is required")
    val rows = KernelRows(df, keyCols, valueCols, orderCols)
    val outSchema = StructType(
      keyCols.map(rows.sel.schema(_)) :+ StructField(resultName, resultType, nullable = true))
    val sortCols = if (k.merge.exists(_.commutative)) keyCols else keyCols ++ orderCols
    rows.sel
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .mapPartitions(it => rows.foldGroups(k, emit)(it))(Encoders.row(outSchema))
  }

  /** Skew-resistant per-group fold for kernels with a lawful
    * [[Kernel.Merge]] → one row per group: (keyCols..., resultName), in
    * ascending key order.
    *
    * The segmented two-pass scan over one range sort on
    * `(keyCols ++ orderCols)` into `buckets` partitions (0: the session's
    * shuffle partitions; see [[KernelRows]]): pass 1 folds each
    * partition's first and last group run from `neutral`, the driver
    * chains the prefix of every group that crosses a partition boundary,
    * and pass 2 re-folds each partition from its seed. A group's row is
    * emitted by the partition where its run ends. A hot group's work
    * spreads over every partition its rows span instead of one task —
    * lawful only because the kernel declared mergeability (never applied
    * silently to sequential kernels). Any orderable ordering column works,
    * and null ordering values sort first, as in [[groupFold]]. The result
    * declares its key order, so `orderBy(keyCols)` adds no Exchange or
    * Sort. */
  def groupFoldMergeable[A](
      df: DataFrame,
      keyCols: Seq[String],
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Fold[A],
      resultType: DataType,
      resultName: String = "fold",
      buckets: Int = 0,
      emit: A => Any = (a: A) => a: Any): DataFrame = {
    val m = k.merge.getOrElse(throw new IllegalArgumentException(
      "groupFoldMergeable requires a kernel with a declared Merge law; use groupFold for sequential kernels"))
    require(keyCols.nonEmpty, "at least one group key is required")
    KernelRows(df, keyCols, valueCols, orderCols).foldMergeable(k, m, resultType, resultName, buckets, emit)
  }

  /** Skew-resistant per-group SCAN for kernels with a lawful
    * [[Kernel.Merge]] → one row per input row: (keyCols...,
    * orderCols not in keyCols..., resultName), in ascending
    * `(keyCols ++ orderCols)` order.
    *
    * The segmented form of [[CollectOps.collectScanMergeable]]'s two-pass
    * prefix scan, over one range sort on `(keyCols ++ orderCols)` into
    * `buckets` partitions (0: the session's shuffle partitions; see
    * [[KernelRows]]): pass 1 folds each partition's first and last group
    * run from `neutral`, the driver chains each group's prefix across
    * partition boundaries, and pass 2 re-scans every partition from its
    * seed, restarting from `init` at each group change. Lawful because
    * seeds are exact prefix states. Null ordering values sort first, as in
    * [[groupScan]]. The result declares its range partitioning and order,
    * so `orderBy(keyCols ++ orderCols)` adds no Exchange or Sort. */
  def groupScanMergeable[A](
      df: DataFrame,
      keyCols: Seq[String],
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Scan[A],
      resultType: DataType,
      resultName: String = "scan",
      buckets: Int = 0): DataFrame = {
    val m = k.merge.getOrElse(throw new IllegalArgumentException(
      "groupScanMergeable requires a kernel with a declared Merge law; use groupScan for sequential kernels"))
    require(keyCols.nonEmpty, "at least one group key is required")
    KernelRows(df, keyCols, valueCols, orderCols).scanMergeable(k, m, resultType, resultName, buckets)
  }

  /** Per-group ordered scan → one row per input row:
    * (keyCols..., orderCols..., resultName). Scan null policy: a null row
    * emits null and does not advance that group's accumulator. */
  def groupScan[A](
      df: DataFrame,
      keyCols: Seq[String],
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Scan[A],
      resultType: DataType,
      resultName: String = "scan"): DataFrame = {
    require(keyCols.nonEmpty, "at least one group key is required")
    val rows = KernelRows(df, keyCols, valueCols, orderCols)
    val outSchema = StructType(
      (keyCols ++ orderCols.filterNot(keyCols.contains)).map(rows.sel.schema(_)) :+
        StructField(resultName, resultType, nullable = true))
    rows.sel
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions((keyCols ++ orderCols).map(col): _*)
      .mapPartitions(it => rows.scanGroups(k)(it))(Encoders.row(outSchema))
  }
}
