package graft.plumba

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, GenericInternalRow, GenericRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.DataType

/** How the fold/scan operators read their input, in one place: the
  * selection `(keyCols ++ orderCols ++ valueCols).distinct` of a frame,
  * the key-run test, the null policy, and the seeded emit of scan and
  * fold results.
  *
  *  - Value columns reach the kernel as external (Row-typed) values. A
  *    row with a null in any of them does not advance the state; a scan
  *    emits null for it.
  *  - Two rows are in one key run when their key columns are equal under
  *    Spark's grouping equality, compared on internal values: NaN equals
  *    NaN, -0.0 equals 0.0 and null equals null, as in `groupBy`. With no
  *    key columns the whole input is one run.
  *
  * [[scanMergeable]] and [[foldMergeable]] are the segmented two-pass
  * scan (Blelloch, "Prefix Sums and Their Applications", 1990) over one
  * range sort on `(keyCols ++ orderCols)`:
  *
  *  1. the sorted rows are copied and marked for an RDD-level
  *     `localCheckpoint`; one job folds each partition's first and last
  *     key run from the merge law's `neutral` and fills the checkpoint;
  *  2. the driver walks those partials in partition order (O(#partitions))
  *     and gives each partition the prefix state of the key its first run
  *     continues from an earlier partition, if any;
  *  3. each checkpointed partition is re-scanned (re-folded) from its
  *     seed, the state restarting from `init` at every key change.
  *
  * A hot key's rows spread over several range partitions, because the
  * range partitioner samples the whole `(key, order)` tuple. Both passes
  * read the same checkpoint blocks, so pass 2's seeds always match the
  * layout pass 1 saw, also when a task is retried. The blocks live in the
  * executors' block managers until the result is garbage-collected (the
  * ContextCleaner drops them) and are lost with their executor (SCALE.md,
  * fault stories). The result declares the sort's range partitioning and
  * ascending order, so a trailing `orderBy` on it plans with no Exchange
  * and no Sort. */
private[plumba] final class KernelRows private (
    @transient val sel: DataFrame,
    keyCols: Seq[String],
    orderCols: Seq[String],
    keyIdx: Array[Int],
    valIdx: Array[Int],
    ordIdx: Array[Int])
    extends Serializable {
  import KernelRows.Edge

  @transient private val fields = sel.schema.fields
  private val scanIdx = keyIdx ++ ordIdx
  private val keyTypes = keyIdx.map(i => fields(i).dataType)
  private val keyGet = keyTypes.map(InternalRow.getAccessor(_))
  private val keyToCatalyst = keyTypes.map(CatalystTypeConverters.createToCatalystConverter)
  @transient private lazy val keyOrd = keyTypes.map(PhysicalDataType.ordering)
  private val valGet = valIdx.map(i => InternalRow.getAccessor(fields(i).dataType))
  private val toScala = valIdx.map(i => CatalystTypeConverters.createToScalaConverter(fields(i).dataType))
  private val outGet = scanIdx.map(i => InternalRow.getAccessor(fields(i).dataType))

  private def same(j: Int, x: Any, y: Any): Boolean =
    if (x == null || y == null) x == null && y == null
    else keyOrd(j).compare(x, y) == 0

  /** The key of `r` as internal values, copied out of the row. */
  private def keyOf(r: InternalRow): Array[Any] = {
    val a = new Array[Any](keyIdx.length)
    var j = 0
    while (j < a.length) { a(j) = InternalRow.copyValue(keyGet(j)(r, keyIdx(j))); j += 1 }
    a
  }

  private def keyOf(r: Row): Array[Any] = {
    val a = new Array[Any](keyIdx.length)
    var j = 0
    while (j < a.length) { a(j) = keyToCatalyst(j)(r.get(keyIdx(j))); j += 1 }
    a
  }

  private def sameKey(a: Array[Any], b: Array[Any]): Boolean = {
    var j = 0
    while (j < a.length) { if (!same(j, a(j), b(j))) return false; j += 1 }
    true
  }

  private def sameKey(key: Array[Any], r: InternalRow): Boolean = {
    var j = 0
    while (j < key.length) { if (!same(j, key(j), keyGet(j)(r, keyIdx(j)))) return false; j += 1 }
    true
  }

  private def values(r: InternalRow): IndexedSeq[Any] = {
    val a = new Array[Any](valIdx.length)
    var i = 0
    while (i < a.length) { a(i) = toScala(i)(valGet(i)(r, valIdx(i))); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
  }

  private def values(r: Row): IndexedSeq[Any] = {
    val a = new Array[Any](valIdx.length)
    var i = 0
    while (i < a.length) { a(i) = r.get(valIdx(i)); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
  }

  private def advance[A](k: Kernel.Steps[A], acc: A, vs: IndexedSeq[Any]): A =
    if (Kernel.anyNull(vs)) acc else k.step(acc, k.withArgs(vs))

  /** Pass 1 over one sorted partition: its number of key runs, and the
    * states of its first and last run, both folded from `from`. */
  private def edge[A](k: Kernel.Steps[A], from: A, rows: Iterator[InternalRow]): Edge[A] = {
    var runs = 0
    var firstKey, key: Array[Any] = null
    var firstState, acc = from
    while (rows.hasNext) {
      val r = rows.next()
      if (key == null || !sameKey(key, r)) {
        if (runs == 1) firstState = acc
        runs += 1
        key = keyOf(r)
        if (firstKey == null) firstKey = key
        acc = from
      }
      acc = advance(k, acc, values(r))
    }
    Edge(runs, firstKey, if (runs == 1) acc else firstState, key, acc)
  }

  /** Scan of one sorted partition: (keys..., order..., state) per row.
    * The state restarts from `init` at every key change; the partition's
    * first run starts from `seed` when there is one. */
  def scan[A](k: Kernel.Scan[A], seed: Option[A], resultType: DataType)(
      rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(resultType)
    var key: Array[Any] = null
    var acc = k.init
    rows.map { r =>
      if (key == null) { key = keyOf(r); acc = seed.getOrElse(k.init) }
      else if (!sameKey(key, r)) { key = keyOf(r); acc = k.init }
      val vs = values(r)
      val out =
        if (Kernel.anyNull(vs)) null
        else { acc = k.step(acc, k.withArgs(vs)); toCatalyst(k.emit(acc)) }
      val o = new Array[Any](scanIdx.length + 1)
      var i = 0
      while (i < scanIdx.length) { o(i) = outGet(i)(r, scanIdx(i)); i += 1 }
      o(i) = out
      new GenericInternalRow(o)
    }
  }

  /** Fold of one sorted partition: (keys..., emit(state)) per key run.
    * The first run starts from `seed` when there is one; the last run
    * emits nothing when it `continues` into a later partition, which
    * emits it. */
  private def fold[A](k: Kernel.Fold[A], seed: Option[A], continues: Boolean,
      emit: A => Any, resultType: DataType)(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(resultType)
    val buf = rows.buffered
    var first = true
    new Iterator[InternalRow] {
      private var pending: InternalRow = null
      private def fill(): Unit =
        while (pending == null && buf.hasNext) {
          val key = keyOf(buf.head)
          var acc = if (first) seed.getOrElse(k.init) else k.init
          first = false
          while (buf.hasNext && sameKey(key, buf.head)) acc = advance(k, acc, values(buf.next()))
          if (buf.hasNext || !continues) pending = new GenericInternalRow(key :+ toCatalyst(emit(acc)))
        }
      def hasNext: Boolean = { fill(); pending != null }
      def next(): InternalRow = {
        fill()
        val r = pending
        pending = null
        r
      }
    }
  }

  /** The selection range-sorted on `(keyCols ++ orderCols)` into `buckets`
    * partitions (0: the session's shuffle partitions), copied and marked
    * for an RDD-level `localCheckpoint` that the first job over it fills. */
  private def rangeSorted(buckets: Int): RDD[InternalRow] = {
    val by = (keyCols ++ orderCols).map(col)
    val sorted =
      if (buckets > 0) sel.repartitionByRange(buckets, by: _*).sortWithinPartitions(by: _*)
      else sel.orderBy(by: _*)
    sorted.queryExecution.toRdd.map(_.copy()).localCheckpoint()
  }

  /** Pass 1 over the `sorted` rows and the driver walk: per partition, its
    * seed (the prefix state of the key its first run continues from an
    * earlier partition) and whether its last run continues into a later
    * non-empty partition. Empty partitions carry the prefix through. */
  private def seeds[A](k: Kernel.Steps[A], m: Kernel.Merge[A], sorted: RDD[InternalRow])
      : IndexedSeq[(Option[A], Boolean)] = {
    val parts = sorted.mapPartitions(it => Iterator.single(edge(k, m.neutral, it))).collect()
    val seeds = Array.fill[Option[A]](parts.length)(None)
    val continues = new Array[Boolean](parts.length)
    var open = -1 // the last non-empty partition so far
    var carry = k.init // the state at its end, folded from init
    parts.indices.foreach { i =>
      val p = parts(i)
      if (p.runs > 0) {
        if (open >= 0 && sameKey(parts(open).lastKey, p.firstKey)) {
          seeds(i) = Some(carry)
          continues(open) = true
        }
        carry =
          if (p.runs == 1) m.combine(seeds(i).getOrElse(k.init), p.firstState)
          else m.combine(k.init, p.lastState)
        open = i
      }
    }
    seeds.toIndexedSeq.zip(continues)
  }

  /** Segmented two-pass scan: (keys..., order..., state) per input row. */
  def scanMergeable[A](k: Kernel.Scan[A], m: Kernel.Merge[A], resultType: DataType,
      resultName: String, buckets: Int): DataFrame =
    scanSorted(k, m, rangeSorted(buckets), resultType, resultName)

  /** Segmented two-pass fold: (keys..., emit(state)) per key. */
  def foldMergeable[A](k: Kernel.Fold[A], m: Kernel.Merge[A], resultType: DataType,
      resultName: String, buckets: Int, emit: A => Any): DataFrame =
    foldSorted(k, m, rangeSorted(buckets), resultType, resultName, emit)

  /** [[scanMergeable]] over rows already sorted on `(keyCols ++ orderCols)`
    * across and within the partitions of `sorted`, in the selection's
    * layout. */
  private[plumba] def scanSorted[A](k: Kernel.Scan[A], m: Kernel.Merge[A], sorted: RDD[InternalRow],
      resultType: DataType, resultName: String): DataFrame = {
    val seedsB = sel.sparkSession.sparkContext.broadcast(seeds(k, m, sorted))
    frame(sorted.mapPartitionsWithIndex((i, it) => scan(k, seedsB.value(i)._1, resultType)(it)),
      scanIdx, resultType, resultName)
  }

  /** [[foldMergeable]] over rows sorted as for [[scanSorted]]. */
  private[plumba] def foldSorted[A](k: Kernel.Fold[A], m: Kernel.Merge[A], sorted: RDD[InternalRow],
      resultType: DataType, resultName: String, emit: A => Any): DataFrame = {
    val seedsB = sel.sparkSession.sparkContext.broadcast(seeds(k, m, sorted))
    frame(sorted.mapPartitionsWithIndex { (i, it) =>
        val (seed, continues) = seedsB.value(i)
        fold(k, seed, continues, emit, resultType)(it)
      }, keyIdx, resultType, resultName)
  }

  /** Scan output rows as a DataFrame of (keys..., order..., resultName). */
  def scanFrame(rows: RDD[InternalRow], resultType: DataType, resultName: String): DataFrame =
    frame(rows, scanIdx, resultType, resultName)

  /** `rows` as a DataFrame of (columns `cols`..., resultName), declaring
    * that they are ordered by `cols` ascending: `SinglePartition` for one
    * partition, else the range partitioning they came from. */
  private def frame(rows: RDD[InternalRow], cols: Array[Int], resultType: DataType, resultName: String): DataFrame = {
    val attrs = cols.toSeq.map(i => AttributeReference(fields(i).name, fields(i).dataType, fields(i).nullable)())
    val ordering = attrs.map(a => SortOrder(a, Ascending))
    val n = rows.getNumPartitions
    val partitioning =
      if (n == 1) SinglePartition
      else if (ordering.isEmpty) UnknownPartitioning(n)
      else RangePartitioning(ordering, n)
    val output = attrs :+ AttributeReference(resultName, resultType, nullable = true)()
    DatasetBridge.ofRows(sel.sparkSession, output, rows, partitioning, ordering)
  }

  /** Sequential per-group fold over rows sorted by key: one
    * (keys..., emit(state)) row per key run, each run folded from `init`. */
  def foldGroups[A](k: Kernel.Fold[A], emit: A => Any)(rows: Iterator[Row]): Iterator[Row] = {
    val buf = rows.buffered
    new Iterator[Row] {
      def hasNext: Boolean = buf.hasNext
      def next(): Row = {
        val head = buf.head
        val key = keyOf(head)
        var acc = k.init
        while (buf.hasNext && sameKey(key, keyOf(buf.head))) acc = advance(k, acc, values(buf.next()))
        outRow(head, keyIdx, emit(acc))
      }
    }
  }

  /** Sequential per-group scan over rows sorted by (key, order):
    * (keys..., order..., state) per row, the state restarting from
    * `init` at every key change. */
  def scanGroups[A](k: Kernel.Scan[A])(rows: Iterator[Row]): Iterator[Row] = {
    var key: Array[Any] = null
    var acc = k.init
    rows.map { r =>
      val rk = keyOf(r)
      if (key == null || !sameKey(key, rk)) { key = rk; acc = k.init }
      val vs = values(r)
      val out =
        if (Kernel.anyNull(vs)) null
        else { acc = k.step(acc, k.withArgs(vs)); k.emit(acc) }
      outRow(r, scanIdx, out)
    }
  }

  /** (`r`'s columns `idx`..., `result`) as a Row. */
  private def outRow(r: Row, idx: Array[Int], result: Any): Row = {
    val o = new Array[Any](idx.length + 1)
    var i = 0
    while (i < idx.length) { o(i) = r.get(idx(i)); i += 1 }
    o(i) = result
    new GenericRow(o)
  }
}

private[plumba] object KernelRows {

  /** Pass-1 summary of one sorted partition: its number of key runs, and
    * the key and state (folded from the merge law's `neutral`) of its
    * first and last run. */
  final case class Edge[A](runs: Int, firstKey: Array[Any], firstState: A, lastKey: Array[Any], lastState: A)

  /** The reader of `(keyCols ++ orderCols ++ valueCols).distinct` of `df`.
    * Scan results carry the key columns, then the order columns that are
    * not keys. */
  def apply(df: DataFrame, keyCols: Seq[String], valueCols: Seq[String], orderCols: Seq[String]): KernelRows = {
    require(valueCols.nonEmpty, "at least one folded or scanned column is required")
    val selCols = (keyCols ++ orderCols ++ valueCols).distinct
    new KernelRows(df.select(selCols.map(col): _*), keyCols, orderCols,
      keyCols.map(selCols.indexOf).toArray, valueCols.map(selCols.indexOf).toArray,
      orderCols.filterNot(keyCols.contains).map(selCols.indexOf).toArray)
  }
}
