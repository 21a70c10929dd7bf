package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{BinaryType, DateType, IntegerType, StructField, StructType, TimestampNTZType, TimestampType}

/** Distributed LEFT AS-OF JOIN — for every left row, the payload of the
  * LATEST right row with the same keys and time <= left time (or
  * strictly <, with `strict = true`). The classic time-series join Spark
  * has no native operator for (point-in-time feature lookup, "state as
  * of event time").
  *
  * Built on this library's own ordered-scan machinery instead of a join:
  * tag both inputs, UNION them, shuffle ONCE on the keys, secondary-sort
  * by (keys, time, side-flag, tie-breaks) and run one streaming pass
  * that carries the last-seen right payload per key — exactly the
  * [[graft.plumba.GroupOps]] secondary-sort pattern. Cost is one shuffle
  * of |left| + |right| rows and a pipelined sort: no row explosion, no
  * per-key windowing over a joined product, and a group never has to fit
  * in memory. At 100 TB both sides co-partition on the keys; for a HOT
  * key (one instrument carrying a large fraction of all rows) use
  * [[asofLastSalted]], which range-salts the time domain so that key's
  * timeline spreads over many tasks.
  *
  * Determinism contract: when several right rows share (keys, time), the
  * carried payload is the LAST in `rightTieBreak` order (supply
  * tie-break columns, or pre-aggregate the right side to unique
  * (keys, time) — the catalog query does the latter, which is also what
  * makes the DuckDB `ASOF JOIN` oracle exact).
  *
  * Output columns: keyCols, timeCol, the remaining left columns, then
  * one `asof_<payload>` column per requested right payload (null when no
  * right row precedes).
  */
object AsofJoin {

  /** Shared prep: tagged union with identical layout from both sides —
    * keys, time, leftRest (null on right rows), payloads (null on left
    * rows), flag. Right rows flag 0 sort BEFORE left rows (flag 1) at
    * equal time -> inclusive (<=); strict mode flags right 2 -> after. */
  private case class Prep(
      unioned: DataFrame,
      unionCols: Seq[String],
      keyIdx: Seq[Int],
      flagIdx: Int,
      payloadIdx: Seq[Int],
      leftOutIdx: Seq[Int],
      outSchema: StructType,
      sortCols: Seq[String],
      nPayload: Int)

  private def prep(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      payloadCols: Seq[String],
      rightTieBreak: Seq[String],
      strict: Boolean,
      outPrefix: String): Prep = {
    require(keyCols.nonEmpty, "at least one join key is required")
    require(payloadCols.nonEmpty, "at least one right payload column is required")
    require(rightTieBreak.forall(payloadCols.contains),
      "tie-break columns must be included in payloadCols (they ride the union as payload)")
    val leftRest = left.columns.toSeq.filterNot(c => keyCols.contains(c) || c == timeCol)
    val pName = payloadCols.map(c => s"__p_$c")
    val rSchema = right.schema
    val lSchema = left.schema

    val rightFlag = if (strict) 2 else 0
    val lp = left.select(
      keyCols.map(col) ++ Seq(col(timeCol)) ++ leftRest.map(col) ++
        payloadCols.zip(pName).map { case (c, n) =>
          lit(null).cast(rSchema(c).dataType).as(n)
        } :+ lit(1).as("__flag"): _*)
    val rp = right.select(
      keyCols.map(col) ++ Seq(col(timeCol)) ++ leftRest.map(c =>
        lit(null).cast(lSchema(c).dataType).as(c)) ++
        payloadCols.zip(pName).map { case (c, n) => col(c).as(n) } :+
        lit(rightFlag).as("__flag"): _*)
    val unioned = lp.union(rp)

    val unionCols = unioned.columns.toSeq
    val outSchema = StructType(
      (keyCols ++ Seq(timeCol) ++ leftRest).map(c => lSchema(c)) ++
        payloadCols.map(c => StructField(s"$outPrefix$c", rSchema(c).dataType, nullable = true)))
    Prep(
      unioned,
      unionCols,
      keyIdx = keyCols.map(unionCols.indexOf),
      flagIdx = unionCols.indexOf("__flag"),
      payloadIdx = pName.map(unionCols.indexOf),
      leftOutIdx = (keyCols ++ Seq(timeCol) ++ leftRest).map(unionCols.indexOf),
      outSchema = outSchema,
      sortCols = (keyCols :+ timeCol :+ "__flag") ++ rightTieBreak.map(c => s"__p_$c"),
      nPayload = payloadCols.length)
  }

  def asofLast(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      payloadCols: Seq[String],
      rightTieBreak: Seq[String] = Nil,
      strict: Boolean = false,
      outPrefix: String = "asof_"): DataFrame = {
    val p = prep(left, right, keyCols, timeCol, payloadCols, rightTieBreak, strict, outPrefix)
    p.unioned
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions(p.sortCols.map(col): _*)
      .mapPartitions { it =>
        var curKey: Seq[Any] = null
        var last: Array[Any] = null
        it.flatMap { r =>
          val key = p.keyIdx.map(r.get)
          if (curKey == null || key != curKey) { curKey = key; last = null }
          if (r.getInt(p.flagIdx) != 1) {
            // right row: remember its payload (last-in-order wins)
            val pay = new Array[Any](p.nPayload)
            var i = 0
            while (i < p.nPayload) { pay(i) = r.get(p.payloadIdx(i)); i += 1 }
            last = pay
            Iterator.empty
          } else {
            val payload: Seq[Any] =
              if (last == null) Seq.fill[Any](p.nPayload)(null)
              else scala.collection.immutable.ArraySeq.unsafeWrapArray(last)
            Iterator.single(Row.fromSeq(p.leftOutIdx.map(r.get) ++ payload))
          }
        }
      }(Encoders.row(p.outSchema))
  }

  /** SKEW-RESISTANT as-of join — same semantics as [[asofLast]], with
    * the time domain range-salted so a hot key's timeline spreads over
    * up to `buckets` tasks instead of one (a seeded prefix scan over the
    * carried-payload state).
    *
    * Three stages:
    *  1. per (keys, time-range bucket): fold the bucket's LAST right
    *    payload (in (time, flag, tie-break) order) — parallel over
    *    (key, bucket) pairs, so the hot key's buckets run concurrently;
    *  2. per key, prefix-carry the bucket partials in bucket order →
    *    one SEED payload per (key, bucket) = the last right payload
    *    strictly before that bucket's time range (O(keys × buckets)
    *    sentinel rows total);
    *  3. union seeds ahead of the data rows, shuffle once on
    *    (keys, bucket), secondary-sort with the seed flag first, and
    *    run [[asofLast]]'s streaming carry within each (key, bucket).
    *
    * Correctness of the salt: buckets are contiguous intervals of the
    * time column, so equal times (where the inclusive/strict flag
    * ordering matters) always land in ONE bucket together, and a right
    * row in an earlier bucket strictly precedes every left row in a
    * later one — the seed is exactly the carry state [[asofLast]]
    * would have reached. Boundary accuracy affects only load balance
    * (from one bounded `approxQuantile` sample pass, seed 42). Null
    * times route to bucket 0, matching the unsalted nulls-first sort.
    *
    * `buckets <= 0` derives the count from `defaultParallelism`. */
  def asofLastSalted(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      payloadCols: Seq[String],
      rightTieBreak: Seq[String] = Nil,
      strict: Boolean = false,
      outPrefix: String = "asof_",
      buckets: Int = 0): DataFrame = {
    val p = prep(left, right, keyCols, timeCol, payloadCols, rightTieBreak, strict, outPrefix)
    val nKeys = keyCols.length

    // round 21: kryo payload codec (see graft.plumba.AccCodec)
    def ser(a: Array[Any]): Array[Byte] = graft.plumba.AccCodec.ser(a)
    def deser(b: Array[Byte]): Array[Any] = graft.plumba.AccCodec.deser[Array[Any]](b)

    // consumed twice (stage-1 partials + stage-3 data rows): materialize
    // once; checkpoint blocks are reference-tracked and dropped by the
    // ContextCleaner (same contract as the salted group scan).
    // Round-21 order: checkpoint FIRST, then derive the range-bucket
    // boundaries from the cached rows — the approxQuantile sample pass
    // previously re-scanned both parquet inputs before the checkpoint
    // scanned them again (guide §1.2: remove passes). The bucket
    // when-chain is evaluated per consumer instead of stored — a few
    // comparisons per row vs materializing a second copy. Boundaries
    // affect only load balance, never results (see rangeBucketCol).
    val base = p.unioned.localCheckpoint(true)
    val bucketCol = rangeBucketCol(base, timeCol, buckets)
    val withB = base.withColumn("__bucket", bucketCol)
    val bIdx = p.unionCols.length // __bucket appended after the union layout

    // stage 1: last right payload per (keys, bucket); buckets with no
    // right row emit the "nothing seen" sentinel (null __acc) so the
    // prefix carry skips them
    val partialSchema = StructType(
      keyCols.map(c => withB.schema(c)) ++
        Seq(StructField("__bucket", IntegerType), StructField("__acc", BinaryType, nullable = true)))
    val sortB = (keyCols :+ "__bucket") ++ p.sortCols.drop(nKeys) // keys, bucket, time, flag, ties
    val partials = withB
      .repartition((keyCols :+ "__bucket").map(col): _*)
      .sortWithinPartitions(sortB.map(col): _*)
      .mapPartitions { it =>
        new Iterator[Row] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): Row = {
            val gk = p.keyIdx.map(buf.head.get) :+ buf.head.get(bIdx)
            var last: Array[Any] = null
            while (buf.hasNext && (p.keyIdx.map(buf.head.get) :+ buf.head.get(bIdx)) == gk) {
              val r = buf.next()
              if (r.getInt(p.flagIdx) != 1) {
                val pay = new Array[Any](p.nPayload)
                var i = 0
                while (i < p.nPayload) { pay(i) = r.get(p.payloadIdx(i)); i += 1 }
                last = pay
              }
            }
            Row.fromSeq(gk :+ (if (last == null) null else ser(last)))
          }
        }
      }(Encoders.row(partialSchema))

    // stage 2: per key, prefix-carry over buckets -> seed BEFORE each bucket
    val seeds = partials
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions((keyCols :+ "__bucket").map(col): _*)
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        val buf = it.buffered
        while (buf.hasNext) {
          val key = (0 until nKeys).map(buf.head.get)
          var carry: Array[Byte] = null
          while (buf.hasNext && (0 until nKeys).map(buf.head.get) == key) {
            val r = buf.next()
            out += Row.fromSeq(key :+ r.get(nKeys) :+ carry) // seed = state BEFORE this bucket
            val acc = r.getAs[Array[Byte]](nKeys + 1)
            if (acc != null) carry = acc
          }
        }
        out.iterator
      }(Encoders.row(partialSchema))

    // stage 3: seed sentinels sort ahead of data rows within each
    // (keys, bucket) run; one shuffle, one streaming carry pass
    val dataRows = withB
      .withColumn("__seed", lit(null).cast(BinaryType))
      .withColumn("__sflag", lit(1))
    val seedRows = seeds
      .select(
        keyCols.map(col) ++
          p.unionCols.filterNot(keyCols.contains).map(c =>
            lit(null).cast(withB.schema(c).dataType).as(c)) :+
          col("__bucket") :+ col("__acc").as("__seed") :+ lit(0).as("__sflag"): _*)
      .select(p.unionCols.map(col) :+ col("__bucket") :+ col("__seed") :+ col("__sflag"): _*)
    val sIdx = p.unionCols.length + 1 // __seed position
    val sfIdx = p.unionCols.length + 2 // __sflag position
    val sortFinal =
      (keyCols.map(col) :+ col("__bucket") :+ col("__sflag")) ++ p.sortCols.drop(nKeys).map(col)
    dataRows.select(p.unionCols.map(col) :+ col("__bucket") :+ col("__seed") :+ col("__sflag"): _*)
      .union(seedRows)
      .repartition((keyCols :+ "__bucket").map(col): _*)
      .sortWithinPartitions(sortFinal: _*)
      .mapPartitions { it =>
        var curGroup: Seq[Any] = null
        var last: Array[Any] = null
        it.flatMap { r =>
          val gk = p.keyIdx.map(r.get) :+ r.get(bIdx)
          if (r.getInt(sfIdx) == 0) { // seed sentinel opens its (key, bucket)
            curGroup = gk
            val b = r.getAs[Array[Byte]](sIdx)
            last = if (b == null) null else deser(b)
            Iterator.empty
          } else {
            if (curGroup == null || gk != curGroup) { curGroup = gk; last = null }
            if (r.getInt(p.flagIdx) != 1) {
              val pay = new Array[Any](p.nPayload)
              var i = 0
              while (i < p.nPayload) { pay(i) = r.get(p.payloadIdx(i)); i += 1 }
              last = pay
              Iterator.empty
            } else {
              val payload: Seq[Any] =
                if (last == null) Seq.fill[Any](p.nPayload)(null)
                else scala.collection.immutable.ArraySeq.unsafeWrapArray(last)
              Iterator.single(Row.fromSeq(p.leftOutIdx.map(r.get) ++ payload))
            }
          }
        }
      }(Encoders.row(p.outSchema))
  }

  /** Range-bucket column for [[asofLastSalted]]: a monotone numeric view
    * of the time column cut at sampled quantile boundaries.
    *
    * `buckets <= 0` (the default) derives the count from the cluster:
    * `max(2, defaultParallelism)` — a skewed key can then spread over
    * every core, with no magic constant to retune per deployment.
    *
    * Boundaries come from `approxQuantile` over a BOUNDED random sample
    * (5%, fixed seed; full frame when the sample is empty) — the sketch's
    * memory is epsilon-bounded regardless of input size, and boundary
    * precision only affects load BALANCE: any monotone boundaries are
    * correct because equal time values always compare into the same
    * bucket and nulls route to bucket 0 (nulls-first, matching the
    * unsalted path's ascending sort). */
  private def rangeBucketCol(df: DataFrame, orderHead: String, buckets: Int): Column = {
    import org.apache.spark.sql.functions.when
    val ordD = df.schema(orderHead).dataType match {
      case DateType | TimestampType | TimestampNTZType =>
        col(orderHead).cast(TimestampType).cast("long").cast("double")
      case _ => col(orderHead).cast("double")
    }
    val nBuckets =
      if (buckets > 0) buckets
      else math.max(2, df.sparkSession.sparkContext.defaultParallelism)
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    // one quantile job over the bounded sample; an empty sample (tiny or
    // all-null frame) yields NO boundaries, and only then does the full
    // frame pay the sketch pass — no separate isEmpty pre-action
    val sampled = df.select(ordD.as("__ordd")).sample(withReplacement = false, 0.05, seed = 42)
    val fromSample = sampled.stat.approxQuantile("__ordd", probs, 0.01)
    val boundaries = (if (fromSample.nonEmpty) fromSample
      else df.select(ordD.as("__ordd")).stat.approxQuantile("__ordd", probs, 0.01))
      .distinct.sorted
    // NULL times sort FIRST under the unsalted ascending sort, so route
    // them to bucket 0 explicitly — `ordD < b` is null for null ordD and
    // would otherwise fall through to the LAST bucket
    when(ordD.isNull, 0).otherwise(
      boundaries.zipWithIndex.foldRight(lit(boundaries.length): Column) {
        case ((b, i), rest) => when(ordD < b, i).otherwise(rest)
      })
  }
}
