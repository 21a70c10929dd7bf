package graft.plumba

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import org.apache.spark.{GraftTestBus, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Retry determinism of the segmented two-pass merge paths
  * (`collectScanMergeable`, `groupScanMergeable`, `groupFoldMergeable`):
  * a kernel that fails the first attempt of one partition in EACH pass
  * must still give the clean run's output, which holds only if a retried
  * task re-reads the same range-partitioned rows — pass 2's retry reads
  * the pass-1 local-checkpoint blocks. Task retries need a `local[N,F]`
  * master, and a JVM holds one SparkContext, so the scenarios run in a
  * child JVM ([[ScanRetryMain]]). */
class ScanRetrySpec extends AnyFunSuite {
  /** Runs [[ScanRetryMain]] with `args` in a child JVM. */
  private def child(args: String*): Unit = {
    val in = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toIndexedSeq
    val opens = in.indices.flatMap { i =>
      if (in(i).startsWith("--add-opens=")) Seq(in(i))
      else if (in(i) == "--add-opens" && i + 1 < in.size) Seq(in(i), in(i + 1))
      else Nil
    }
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx1g") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "graft.plumba.ScanRetryMain") ++ args
    val log = new StringBuilder
    val line = (l: String) => { log.synchronized(log.append(l).append('\n')); () }
    val rc = Process(cmd).!(ProcessLogger(line, line))
    assert(rc == 0 && log.toString.contains("SCAN_RETRY_OK"), s"child JVM exit $rc:\n$log")
  }

  test("collectScanMergeable under local[4,3] with one failed attempt per pass == clean run") {
    child("collect")
  }

  test("groupScanMergeable and groupFoldMergeable over a hot key under local[4,3] with one failed attempt per pass == clean run") {
    child("group")
  }
}

/** The retry scenarios, each run once clean and once with a kernel that
  * throws on the first attempt of partition 1 — in pass 1's fold and in
  * pass 2's re-scan (re-fold):
  *  - `collect`: a running sum over 20k rows in 4 range partitions;
  *  - `group`: per-group running sums and sums over a hot-key frame (80%
  *    of the rows in one key) in 4 range partitions, so the hot key's
  *    prefix crosses partition boundaries. */
object ScanRetryMain {
  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { System.err.println(s"SCAN_RETRY_FAIL $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4,3]")
      .appName("scan-retry")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failedStages = new java.util.concurrent.ConcurrentHashMap[Int, Unit]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason.toString.contains("injected first-attempt failure"))
          failedStages.put(e.stageId, ())
    })
    val add = (acc: Long, x: Long) => {
      val tc = TaskContext.get()
      if (flaky && tc.attemptNumber() == 0 && tc.partitionId() == 1)
        throw new IllegalStateException("injected first-attempt failure")
      acc + x
    }
    val merge = Some(Kernel.Merge(0L, (a: Long, b: Long) => a + b))
    val scanK = Kernel.Scan.of1[Long, Long](0L, merge = merge)(add)
    val foldK = Kernel.Fold.of1[Long, Long](0L, merge)(add)

    /** Runs `op` clean, then flaky, and checks the flaky run. */
    def scenario(name: String, rows: Int)(op: => DataFrame): Unit = {
      flaky = false
      val clean = op.collect().toSeq
      flaky = true
      failedStages.clear()
      val retried = op
      val rdd = retried.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      check(rdd.exists(_.toDebugString.contains("LocalCheckpointRDD")),
        s"$name: pass 2 does not read checkpoint blocks:\n${rdd.map(_.toDebugString)}")
      val got = retried.collect().toSeq
      GraftTestBus.flush(spark.sparkContext)
      check(failedStages.size == 2, s"$name: expected one failed attempt in each pass, got stages $failedStages")
      check(clean.size == rows && got == clean, s"$name: retried output differs from the clean run")
    }

    val df = spark.range(0, 20000, 1, 4)
      .select((col("id") * 7919 % 20000).as("k"), (col("id") * 31 % 1000).as("v"))
    if (args.contains("collect")) scenario("collectScanMergeable", 20000) {
      CollectOps.collectScanMergeable(df, Seq("v"), Seq("k"), scanK, merge.get, LongType, "run").orderBy("k")
    }
    val hot = df.withColumn("g", when(col("k") % 10 < 8, lit(0L)).otherwise(col("k") % 7 + 1))
    if (args.contains("group")) {
      scenario("groupScanMergeable", 20000) {
        GroupOps.groupScanMergeable(hot, Seq("g"), Seq("v"), Seq("k"), scanK, LongType, "run", buckets = 4)
          .orderBy("g", "k")
      }
      scenario("groupFoldMergeable", 8) {
        GroupOps.groupFoldMergeable(hot, Seq("g"), Seq("v"), Seq("k"), foldK, LongType, "sum", buckets = 4)
          .orderBy("g")
      }
    }
    println("SCAN_RETRY_OK")
    spark.stop()
  }

  /** Whether the kernel injects its failure; read by the local-mode tasks
    * of this JVM. */
  @volatile private var flaky = false
}
