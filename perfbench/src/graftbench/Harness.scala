package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: a closed loop with a single caller that
  * runs one workload query at a time.
  *
  *  1. Check pass (untimed; also the warm-up and, as the first call of each
  *     persisted-index gate, the index prep): every query's output digest
  *     is compared with the golden one.
  *  2. Timed passes until `--seconds` are used, each in a seed-permuted
  *     order. A query is timed as its build call plus a final `noop` write.
  *  3. With `--trace 1` the passes alternate untraced / traced, so the
  *     tracing overhead is measured in the same JVM, and the plumba layer
  *     probes run afterwards.
  *
  * Writes one JSON document to `--out`; `perfbench/run.py` turns it into
  * metrics. */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      fixtures: String, out: String, cores: Int, kernelRows: Int,
      kernelNullShare: Double, writeGoldens: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("fixtures"), m("out"), m("cores").toInt, m("kernel-rows").toInt,
      m("kernel-null-share").toDouble, m.get("write-goldens").contains("1"))
  }

  final case class QueryTime(name: String, build_s: Double, action_s: Double,
      error: String, span: Int)
  final case class Pass(index: Int, traced: Boolean, span: Int, wall_s: Double, cpu_s: Double,
      steal_s: Double, load1: Double, start_ns: Long, end_ns: Long, queries: Seq[QueryTime])
  final case class Check(name: String, rows: Long, digest: String, error: String,
      seconds: Double)

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** Cumulative host steal seconds from /proc/stat (USER_HZ = 100). */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong / 100.0 else 0.0
      } finally src.close()
    } catch { case NonFatal(_) => 0.0 }

  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def errorText(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(500)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val names = if (o.writeGoldens) Workloads.goldens
      else Workloads.all.getOrElse(o.workload,
        throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val work = new java.io.File(o.out).getAbsoluteFile.getParent
    val spark = session(o.cores, work)
    val catalog = graft.SparkEntry.queries
    def build(n: String): DataFrame = catalog(n)(spark, o.fixtures)

    val checks = names.sorted.map { n =>
      val t = System.nanoTime()
      def secs = (System.nanoTime() - t) / 1e9
      try {
        val d = Digest.of(build(n))
        Check(n, d.rows, d.hex, null, secs)
      } catch { case NonFatal(e) => Check(n, -1, null, errorText(e), secs) }
    }
    val setupEndMs = System.currentTimeMillis()

    val trace = if (o.trace) Some(new Trace(spark)) else None
    val rng = new scala.util.Random(o.seed)
    val passes = mutable.ArrayBuffer.empty[Pass]
    // A traced run alternates untraced and traced passes, so it makes an
    // even number of them.
    val nPasses = if (o.writeGoldens) 0 else {
      val n = Workloads.passes(o.workload, o.seconds)
      if (o.trace) n + n % 2 else n
    }
    while (passes.length < nPasses) {
      val traced = o.trace && passes.length % 2 == 1
      val order = rng.shuffle(names)
      val tr = trace.filter(_ => traced)
      tr.foreach(_.attach())
      val cpu0 = processCpuS(); val steal0 = stealS()
      val p0 = System.nanoTime()
      val startNs = trace.map(_.nowNs()).getOrElse(0L)
      def runPass(passSpan: Int): Seq[QueryTime] = order.map { n =>
        def timeQuery(qSpan: Int): QueryTime = {
          def phase[T](name: String)(f: => T): T =
            tr match {
              case Some(t) => t.span(name, qSpan)(_ => f)
              case None => f
            }
          val a = System.nanoTime()
          try {
            val df = phase("queries.build")(build(n))
            val b = System.nanoTime()
            phase("queries.action")(df.write.mode("overwrite").format("noop").save())
            val c = System.nanoTime()
            QueryTime(n, (b - a) / 1e9, (c - b) / 1e9, null, qSpan)
          } catch {
            case NonFatal(e) => QueryTime(n, (System.nanoTime() - a) / 1e9, 0.0, errorText(e), qSpan)
          }
        }
        tr match {
          case Some(t) => t.span(s"query:$n", passSpan)(timeQuery)
          case None => timeQuery(-1)
        }
      }
      var passSpan = -1
      val qs = tr match {
        case Some(t) => t.span(s"pass:${passes.length}", -1) { id => passSpan = id; runPass(id) }
        case None => runPass(-1)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = processCpuS() - cpu0
      val steal = stealS() - steal0
      val endNs = trace.map(_.nowNs()).getOrElse(0L)
      tr.foreach(_.detach())
      passes += Pass(passes.length, traced, passSpan, wall, cpu, steal, load1(), startNs, endNs, qs)
    }

    val layer: Map[String, Any] = trace match {
      case Some(t) if !o.writeGoldens =>
        val k = KernelBench.kernels(o.seed, o.kernelRows, o.kernelNullShare, reps = 5)
        val ops =
          try KernelBench.operators(spark, o.fixtures)
          catch {
            case NonFatal(e) => Seq(KernelBench.OpResult("operators: " + errorText(e), -1, ok = false))
          }
        Map("kernel" -> k, "operators" -> ops, "spans" -> t.spans.toSeq,
          "jobs" -> t.jobs.values.toSeq, "sql" -> t.sql.toSeq, "batches" -> t.batches.toSeq)
      case _ => Map.empty
    }

    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores, "traced" -> o.trace,
      "setup_end_ms" -> setupEndMs, "checks" -> checks, "passes" -> passes.toSeq,
      "peak_rss_mb" -> peakRssMb(), "layer" -> layer)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), Json.render(result))
    spark.stop()
    sys.exit(0)
  }
}
