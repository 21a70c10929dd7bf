package graft.plumba

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Whole-frame ordered fold/scan over a `DataFrame` — the Spark-native
  * counterpart of the reference's `collect_fold`/`collect_scan`
  * (reference: src/polars_numba/__init__.py:312–355, :682–740).
  *
  * Polars frames carry an intrinsic row order; Spark datasets do not, so
  * every operator takes explicit ordering columns (SURVEY §7.4 — a
  * deliberate, documented API deviation).
  *
  * Scale design (SURVEY §3.1–3.2):
  *  - Kernels declaring a [[Kernel.Merge]] run as *partial folds per
  *    partition* on executors, combined in partition order on the driver —
  *    O(#partitions) driver work, fully parallel, no row ever crosses to
  *    the driver. This is the 100 TB path.
  *  - Non-mergeable kernels are inherently sequential (the reference's own
  *    model: acc threads across 50k-row batches, :349). The parity path
  *    streams partitions to the driver one at a time via
  *    `toLocalIterator` — bounded memory, exactly the reference's
  *    single-threaded streaming semantics. Prefer group-parallel
  *    [[GroupOps]] at scale.
  */
object CollectOps {

  /** Project, apply fold null policy (drop rows with nulls in the selected
    * value columns ONLY — nulls in other columns never drop a row,
    * reference tests/test_collect_fold.py:41–56), and globally sort. */
  private def prepared(df: DataFrame, valueCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "at least one folded column is required") // reference :272–273
    df.select((orderCols ++ valueCols).distinct.map(col): _*)
      .na.drop(valueCols)
      .orderBy(orderCols.map(col): _*)
      .select(valueCols.map(col): _*)
  }

  private[plumba] def rowValues(r: Row): IndexedSeq[Any] = {
    val n = r.length
    val a = new Array[Any](n)
    var i = 0
    while (i < n) { a(i) = r.get(i); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
  }

  /** Ordered whole-frame fold → scalar. Kernels whose merge law is
    * declared COMMUTATIVE skip the global sort (and its range-exchange)
    * entirely — permutation invariance makes row and partition order
    * irrelevant, so the scan's natural partitioning feeds the partial
    * folds directly: one pass, zero shuffles. */
  def collectFold[A](df: DataFrame, valueCols: Seq[String], orderCols: Seq[String], k: Kernel.Fold[A]): A = {
    k.merge match {
      case Some(m) if m.commutative =>
        // Unsorted path: project + fold null policy only. Every partition
        // folds from `neutral`; partials combine in any order onto `init`.
        require(valueCols.nonEmpty, "at least one folded column is required")
        val proj = df.select(valueCols.distinct.map(col): _*)
          .na.drop(valueCols.distinct)
          .select(valueCols.map(col): _*)
        proj.rdd
          // tuple wrapper only for the ClassTag (A itself has none)
          .mapPartitions(it => Iterator((0, Kernel.foldRowsFrom(k, m.neutral, it.map(rowValues)))))
          .collect()
          .foldLeft(k.init)((acc, p) => m.combine(acc, p._2))
      case Some(m) =>
        val proj = prepared(df, valueCols, orderCols)
        // Executor-side partial folds; global sort range-partitions rows so
        // partition index order IS row order. Combine partials in that order.
        val partials = proj.rdd
          .mapPartitionsWithIndex { (idx, it) =>
            val from = if (idx == 0) k.init else m.neutral
            Iterator((idx, Kernel.foldRowsFrom(k, from, it.map(rowValues))))
          }
          .collect()
          .sortBy(_._1)
        if (partials.isEmpty) k.init
        else partials.iterator.map(_._2).reduceLeft(m.combine)
      case None =>
        // Parity path: partitions stream to the driver in sorted order
        // through `toLocalIterator` (which pipelines partition fetches),
        // folded sequentially like the reference.
        import scala.jdk.CollectionConverters._
        val proj = prepared(df, valueCols, orderCols)
        Kernel.foldRows(k, proj.toLocalIterator().asScala.map(rowValues))
    }
  }

  /** Ordered whole-frame scan → DataFrame of (orderCols..., resultName).
    *
    * Kernels declaring a [[Kernel.Merge]] law are routed to the two-pass
    * distributed prefix scan ([[collectScanMergeable]]) — the parallel
    * default for lawful kernels. A generic (possibly non-associative)
    * prefix scan is inherently sequential, so it runs as a single sorted
    * partition — reference parity (the reference is single-threaded too,
    * README.md:57–62). For per-group scans use [[GroupOps.groupScan]]
    * (parallel across groups); for partitioned associative scans
    * [[WindowOps]]. Null rows emit null and do not advance the
    * accumulator. Either way the result declares its ascending
    * `orderCols` ordering to the planner, so a trailing
    * `orderBy(orderCols)` costs no Exchange and no Sort. */
  def collectScan[A](
      df: DataFrame,
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Scan[A],
      resultType: DataType,
      resultName: String = "scan"): DataFrame = k.merge match {
    case Some(m) => collectScanMergeable(df, valueCols, orderCols, k, m, resultType, resultName)
    case None => collectScanSequential(df, valueCols, orderCols, k, resultType, resultName)
  }

  private def collectScanSequential[A](
      df: DataFrame,
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Scan[A],
      resultType: DataType,
      resultName: String): DataFrame = {
    val rows = KernelRows(df, Nil, valueCols, orderCols)
    val sorted = rows.sel.repartition(1).sortWithinPartitions(orderCols.map(col): _*)
    rows.scanFrame(sorted.queryExecution.toRdd.mapPartitions(rows.scan(k, None, resultType)),
      resultType, resultName)
  }

  /** Parallel whole-frame scan for kernels whose step state obeys a
    * [[Kernel.Merge]] law — the classic two-pass distributed prefix scan:
    *
    *  1. globally range-sort, then fold each partition's segment state in
    *     parallel (one pass);
    *  2. prefix-combine the per-partition partials in partition order
    *     (driver-side, O(#partitions));
    *  3. re-scan each partition seeded with its prefix (second pass).
    *
    * Unlike the sequential [[collectScan]] (reference parity) this keeps
    * every executor busy — the 100 TB path for associative global scans
    * that aren't plain window aggregates. It is the zero-key case of the
    * per-group [[GroupOps.groupScanMergeable]]: both run [[KernelRows]]'
    * segmented two-pass scan, whose sorted rows are held in an RDD-level
    * `localCheckpoint` that pass 1 fills and pass 2 (and any retried task)
    * reads, so pass 2's seeds always match pass 1's partition layout.
    *
    * The result declares the sort's range partitioning and ascending
    * `orderCols` ordering, so a trailing `orderBy(orderCols)` plans with
    * no Exchange and no Sort. */
  def collectScanMergeable[A](
      df: DataFrame,
      valueCols: Seq[String],
      orderCols: Seq[String],
      k: Kernel.Scan[A],
      m: Kernel.Merge[A],
      resultType: DataType,
      resultName: String = "scan"): DataFrame =
    KernelRows(df, Nil, valueCols, orderCols).scanMergeable(k, m, resultType, resultName, buckets = 0)
}
