package graftbench

import org.apache.spark.sql.Row

/** Self-tests of the harness helpers that need the JVM: the output digest
  * and job-group attribution. Run by perfbench/test_bench.py; prints one
  * line per check and exits non-zero when any fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    digest()
    attribution(args.headOption.getOrElse(System.getProperty("java.io.tmpdir")))
    if (failures > 0) sys.exit(1)
  }

  def digest(): Unit = {
    val rows = Seq(
      Row(1L, "a", 0.1 + 0.2, Seq(1, 2)),
      Row(2L, null, 1.5, Seq.empty[Int]),
      Row(3L, "c", -0.0, Seq(3)))
    val order = Digest.nameOrder(Array("id", "s", "x", "arr"))
    val base = Digest.ofRows(rows.iterator, order)
    check("digest ignores row order",
      Digest.ofRows(rows.reverse.iterator, order) == base &&
        Digest.ofRows(Seq(rows(1), rows(2), rows(0)).iterator, order) == base)
    check("digest counts rows", base.rows == 3)
    val changed = rows.updated(1, Row(2L, null, 1.5000001, Seq.empty[Int]))
    check("digest changes when one cell changes", Digest.ofRows(changed.iterator, order) != base)
    val moved = rows.updated(0, Row(1L, "a", 0.1 + 0.2, Seq(2, 1)))
    check("digest changes when array elements move", Digest.ofRows(moved.iterator, order) != base)
    check("digest ignores last-bit float noise",
      Digest.cell(0.1 + 0.2) == Digest.cell(0.3) && Digest.cell(-0.0) == Digest.cell(0.0))
    check("digest sorts columns by name",
      Digest.nameOrder(Array("b", "c", "a")).toSeq == Seq(2, 0, 1))
  }

  def attribution(work: String): Unit = {
    val spark = Harness.session(2, work)
    try {
      val t = new Trace(spark)
      t.attach()
      val (a, b) = (
        t.span("query:a", -1) { id => spark.range(10).count(); id },
        t.span("query:b", -1) { id => spark.range(10).repartition(2).count(); id })
      t.detach()
      val byJob = t.jobs.values.toSeq
      check("each job carries the job group of its span",
        byJob.nonEmpty && byJob.forall(j => Trace.spanOfGroup(j.group).contains(j.span)))
      check("jobs attributed to the span whose group was set",
        byJob.count(_.span == a) >= 1 && byJob.count(_.span == b) >= 1 &&
          byJob.forall(j => j.span == a || j.span == b))
      check("a foreign job group is not taken for a span",
        Trace.spanOfGroup("stream-run-1").isEmpty && Trace.spanOfGroup(null).isEmpty)
      check("spans nest and close", t.spans.forall(s => s != null && s.end_ns >= s.start_ns))
    } finally spark.stop()
  }
}
