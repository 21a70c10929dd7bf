package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.DoubleType

import graft.plumba.{CollectOps, GroupOps, Kernel}

/** Layer probes for `graft.plumba`: the kernel loop on its own (no Spark)
  * and one direct call to each public CollectOps / GroupOps operator. Each
  * probe also checks its result, so a wrong answer counts as a failure. */
object KernelBench {

  /** Seed-generated two-column Long rows; each cell is null with
    * probability `nullShare`, like FIXTURES §A2/§A3. Values lie in
    * [-50, 50], so about half the rows of a streak are "freezing". */
  def rows(seed: Long, n: Int, nullShare: Double): Array[IndexedSeq[Any]] = {
    val r = new scala.util.Random(seed)
    def cell(): Any = if (r.nextDouble() < nullShare) null else (r.nextInt(101) - 50).toLong
    Array.fill(n)(scala.collection.immutable.ArraySeq[Any](cell(), cell()))
  }

  // FIXTURES §A2: sum with nulls, init 0.5.
  val sumFold = Kernel.Fold[Double](0.5,
    (acc, xs) => acc + xs(0).asInstanceOf[Long] + xs(1).asInstanceOf[Long])
  val sumScan = Kernel.Scan[Double](0.5,
    (acc, xs) => acc + xs(0).asInstanceOf[Long] + xs(1).asInstanceOf[Long])
  // FIXTURES §A3: tuple accumulator emitting an array, init (6, 9).
  val tupleScan = Kernel.Scan[(Long, Long)]((6L, 9L),
    (acc, xs) => (acc._1 + xs(0).asInstanceOf[Long], acc._2 + xs(1).asInstanceOf[Long]),
    emit = (t: (Long, Long)) => Array(t._1, t._2))
  // FIXTURES §A5: longest streak of negative values, acc (best, current).
  val streakFold = Kernel.Fold[(Long, Long)]((0L, 0L), { (acc, xs) =>
    if (xs(0).asInstanceOf[Long] < 0) { val c = acc._2 + 1; (math.max(acc._1, c), c) }
    else (acc._1, 0L)
  })

  private def threadCpuNs(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  final case class KernelResult(fold_rows_per_core_s: Double, scan_rows_per_core_s: Double,
      rows: Int, null_share: Double, reps: Int, ok: Boolean)

  /** Rows per CPU-second of one thread through `Kernel.foldRows` (A2 and
    * A5) and `Kernel.scanRows` (A2 and A3), median over `reps` rounds. */
  def kernels(seed: Long, n: Int, nullShare: Double, reps: Int): KernelResult = {
    val data = rows(seed, n, nullShare)
    val live = data.filter(r => r(0) != null && r(1) != null)
    // Expected results from plain loops over the non-null rows.
    val wantSum = live.foldLeft(0.5)((a, r) => a + r(0).asInstanceOf[Long] + r(1).asInstanceOf[Long])
    val wantStreak = live.foldLeft((0L, 0L)) { (acc, r) =>
      if (r(0).asInstanceOf[Long] < 0) { val c = acc._2 + 1; (math.max(acc._1, c), c) } else (acc._1, 0L)
    }
    val wantLast = live.foldLeft((6L, 9L))((a, r) =>
      (a._1 + r(0).asInstanceOf[Long], a._2 + r(1).asInstanceOf[Long]))
    var ok = true
    val foldRates = (1 to reps).map { _ =>
      val t0 = threadCpuNs()
      val s = Kernel.foldRows(sumFold, data.iterator)
      val k = Kernel.foldRows(streakFold, data.iterator)
      val dt = threadCpuNs() - t0
      ok &&= s == wantSum && k == wantStreak
      2.0 * n / (dt / 1e9)
    }
    val scanRates = (1 to reps).map { _ =>
      val t0 = threadCpuNs()
      var nulls = 0L
      var last = 0.0
      Kernel.scanRows(sumScan, data.iterator).foreach {
        case Some(v: Double) => last = v
        case _ => nulls += 1
      }
      var lastArr: Array[Long] = null
      Kernel.scanRows(tupleScan, data.iterator).foreach {
        case Some(a: Array[Long]) => lastArr = a
        case _ => nulls += 1
      }
      val dt = threadCpuNs() - t0
      ok &&= last == wantSum && nulls == 2L * (n - live.length) &&
        lastArr.sameElements(Array(wantLast._1, wantLast._2))
      2.0 * n / (dt / 1e9)
    }
    KernelResult(median(foldRates), median(scanRates), n, nullShare, reps, ok)
  }

  final case class OpResult(name: String, seconds: Double, ok: Boolean)

  /** One timed direct call to each CollectOps / GroupOps operator over
    * `lineitem`, each after one untimed warm call. Sequential and merge
    * variants use the same kernel, so their outputs must agree. */
  def operators(spark: SparkSession, dir: String): Seq[OpResult] = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = Seq("l_orderkey", "l_linenumber")
    val key = Seq("l_suppkey")
    val qty = Seq("l_quantity")
    val price = Seq("l_extendedprice")
    val sumMerge = Some(Kernel.Merge[Double](0.0, _ + _))
    val sumSeq = Kernel.Fold.of1[Double, Double](0.0)(_ + _)
    val sumMer = Kernel.Fold.of1[Double, Double](0.0, sumMerge)(_ + _)
    val maxMerge = Some(Kernel.Merge[Double](Double.NegativeInfinity, (a, b) => math.max(a, b)))
    val maxSeq = Kernel.Scan.of1[Double, Double](0.0)((a, b) => math.max(a, b))
    val maxMer = Kernel.Scan.of1[Double, Double](0.0, merge = maxMerge)((a, b) => math.max(a, b))

    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def timed[T](f: => T): (Double, T) = {
      f
      val t0 = System.nanoTime()
      val v = f
      ((System.nanoTime() - t0) / 1e9, v)
    }
    def frame(name: String, f: => DataFrame): (OpResult, Digest.Value) = {
      val (s, _) = timed(noop(f))
      (OpResult(name, s, ok = true), Digest.of(f))
    }
    val (foldSeqS, foldSeq) = timed(CollectOps.collectFold(li, qty, ord, sumSeq))
    val (foldMerS, foldMer) = timed(CollectOps.collectFold(li, qty, ord, sumMer))
    val (scanSeq, dScanSeq) = frame("collect_scan_seq_s",
      CollectOps.collectScan(li, price, ord, maxSeq, DoubleType))
    val (scanMer, dScanMer) = frame("collect_scan_merge_s",
      CollectOps.collectScan(li, price, ord, maxMer, DoubleType))
    val (gFold, dGFold) = frame("group_fold_s",
      GroupOps.groupFold(li, key, qty, ord, sumSeq, DoubleType))
    val (gFoldMer, dGFoldMer) = frame("group_fold_merge_s",
      GroupOps.groupFoldMergeable(li, key, qty, ord, sumMer, DoubleType))
    val (gScan, dGScan) = frame("group_scan_s",
      GroupOps.groupScan(li, key, price, ord, maxSeq, DoubleType))
    val (gScanMer, dGScanMer) = frame("group_scan_merge_s",
      GroupOps.groupScanMergeable(li, key, price, ord, maxMer, DoubleType))
    val foldOk = foldSeq == foldMer
    Seq(
      OpResult("collect_fold_seq_s", foldSeqS, foldOk),
      OpResult("collect_fold_merge_s", foldMerS, foldOk),
      scanSeq.copy(ok = dScanSeq == dScanMer), scanMer.copy(ok = dScanSeq == dScanMer),
      gFold.copy(ok = dGFold == dGFoldMer), gFoldMer.copy(ok = dGFold == dGFoldMer),
      gScan.copy(ok = dGScan == dGScanMer), gScanMer.copy(ok = dGScan == dGScanMer))
  }
}
