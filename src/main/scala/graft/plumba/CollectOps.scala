package graft.plumba

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, GenericInternalRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.DatasetBridge
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
    val scan = ScanRows(df, valueCols, orderCols, resultType, resultName)
    val sorted = scan.sel.repartition(1).sortWithinPartitions(orderCols.map(col): _*)
    scan.frame(sorted.queryExecution.toRdd.mapPartitions(it => scan.emit(k, k.init, it)))
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
    * that aren't plain window aggregates.
    *
    * Both passes must see the identical range partitioning (pass 2's
    * prefix seeds are only valid for pass 1's exact partition layout),
    * so the sorted rows are copied and marked for an RDD-level
    * `localCheckpoint`. Pass 1's collect is the job that computes them
    * and stores the blocks; pass 2 and any retried task of either pass
    * read those blocks instead of re-running the sort. The blocks live
    * in the executors' block managers until the returned frame is
    * garbage-collected (the ContextCleaner drops them) and are lost
    * with their executor (SCALE.md, fault stories).
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
      resultName: String = "scan"): DataFrame = {
    val scan = ScanRows(df, valueCols, orderCols, resultType, resultName)
    val sorted = scan.sel.orderBy(orderCols.map(col): _*).queryExecution.toRdd
      .map(_.copy())
      .localCheckpoint()
    // pass 1: per-partition segment folds (null rows don't advance state)
    val partials = sorted
      .mapPartitionsWithIndex((idx, it) => Iterator((idx, scan.fold(k, m.neutral, it))))
      .collect().sortBy(_._1).iterator.map(_._2).toList
    // prefix for partition i = init merged with partials 0..i-1
    val prefixes = partials.scanLeft(k.init)((l, r) => m.combine(l, r)).toIndexedSeq
    val prefixesB = df.sparkSession.sparkContext.broadcast(prefixes)
    // pass 2: seeded re-scan of the checkpointed partitions
    scan.frame(sorted.mapPartitionsWithIndex((idx, it) => scan.emit(k, prefixesB.value(idx), it)))
  }

  /** A scan's sorted selection `(orderCols ++ valueCols).distinct` and how
    * its rows are read and emitted: value columns are handed to the
    * kernel as external (Row-typed) values, order columns pass through
    * in their internal form, and each emitted state is converted to
    * `resultType`. [[frame]] mounts the emitted rows as a DataFrame of
    * (orderCols..., resultName) that declares its sort order. */
  private final class ScanRows(
      @transient val sel: DataFrame,
      valIdx: Array[Int],
      ordIdx: Array[Int],
      resultType: DataType,
      resultName: String)
      extends Serializable {
    @transient private val fields = sel.schema.fields
    private val valGet = valIdx.map(i => InternalRow.getAccessor(fields(i).dataType))
    private val toScala = valIdx.map(i => CatalystTypeConverters.createToScalaConverter(fields(i).dataType))
    private val ordGet = ordIdx.map(i => InternalRow.getAccessor(fields(i).dataType))
    private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(resultType)

    private def values(r: InternalRow): IndexedSeq[Any] = {
      val a = new Array[Any](valIdx.length)
      var i = 0
      while (i < a.length) { a(i) = toScala(i)(valGet(i)(r, valIdx(i))); i += 1 }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    }

    /** Segment fold of one partition from `from` (pass 1). */
    def fold[A](k: Kernel.Scan[A], from: A, rows: Iterator[InternalRow]): A = {
      var acc = from
      rows.foreach { r =>
        val vs = values(r)
        if (!Kernel.anyNull(vs)) acc = k.step(acc, k.withArgs(vs))
      }
      acc
    }

    /** Scan of one partition from `from`: (orderCols..., state) per row;
      * a null row emits null and does not advance the state. */
    def emit[A](k: Kernel.Scan[A], from: A, rows: Iterator[InternalRow]): Iterator[InternalRow] = {
      var acc = from
      rows.map { r =>
        val vs = values(r)
        val out =
          if (Kernel.anyNull(vs)) null
          else { acc = k.step(acc, k.withArgs(vs)); toCatalyst(k.emit(acc)) }
        val o = new Array[Any](ordIdx.length + 1)
        var i = 0
        while (i < ordIdx.length) { o(i) = ordGet(i)(r, ordIdx(i)); i += 1 }
        o(i) = out
        new GenericInternalRow(o)
      }
    }

    /** The emitted rows as a DataFrame ordered by `orderCols` ascending.
      * A one-partition result declares `SinglePartition`, a multi-
      * partition one the range partitioning it came from. */
    def frame(rows: RDD[InternalRow]): DataFrame = {
      val ordCols = ordIdx.toSeq.map(i => AttributeReference(fields(i).name, fields(i).dataType, fields(i).nullable)())
      val ordering = ordCols.map(a => SortOrder(a, Ascending))
      val n = rows.getNumPartitions
      val partitioning =
        if (n == 1) SinglePartition
        else if (ordering.isEmpty) UnknownPartitioning(n)
        else RangePartitioning(ordering, n)
      val output = ordCols :+ AttributeReference(resultName, resultType, nullable = true)()
      DatasetBridge.ofRows(sel.sparkSession, output, rows, partitioning, ordering)
    }
  }

  private object ScanRows {
    def apply(
        df: DataFrame,
        valueCols: Seq[String],
        orderCols: Seq[String],
        resultType: DataType,
        resultName: String): ScanRows = {
      require(valueCols.nonEmpty, "at least one scanned column is required")
      val selCols = (orderCols ++ valueCols).distinct
      new ScanRows(df.select(selCols.map(col): _*),
        valueCols.map(selCols.indexOf).toArray, orderCols.map(selCols.indexOf).toArray, resultType, resultName)
    }
  }
}
