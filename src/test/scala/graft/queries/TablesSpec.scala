package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the type-aware `ts` ingestion contract (round 11): the driver
  * fixture's physical timestamp type has DRIFTED between rounds
  * (TIMESTAMP(NANOS) → TIMESTAMP(MICROS) mid-round-10, breaking 7
  * queries and 6 specs), so the single load point must normalize every
  * flavor to the repo-wide convention — bigint epoch NANOSECONDS —
  * and a future drift (millis, tz-adjusted) must land here, not in 7
  * query files. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val wallMicros = 1700000000123456L // 2023-11-14T22:13:20.123456Z

  test("normalizeTs lifts TIMESTAMP_NTZ micros to epoch nanos (UTC, exact)") {
    val df = spark.range(1).select(
      timestamp_micros(lit(wallMicros)).cast(TimestampNTZType).as("ts"),
      lit(7L).as("other"))
    assert(df.schema("ts").dataType == TimestampNTZType)
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType == LongType)
    assert(out.columns.toSeq == Seq("ts", "other"), "column order must be preserved")
    assert(out.head.getLong(0) == wallMicros * 1000L)
  }

  test("normalizeTs lifts TIMESTAMP (tz-adjusted) micros to epoch nanos") {
    val df = spark.range(1).select(timestamp_micros(lit(wallMicros)).as("ts"))
    assert(df.schema("ts").dataType == TimestampType)
    assert(Tables.normalizeTs(df).head.getLong(0) == wallMicros * 1000L)
  }

  test("normalizeTs passes LongType through untouched and ignores frames without ts") {
    val long = spark.range(1).select(lit(42L).as("ts"))
    assert(Tables.normalizeTs(long).head.getLong(0) == 42L)
    val none = spark.range(1).select(lit("x").as("a"))
    assert(Tables.normalizeTs(none).columns.toSeq == Seq("a"))
  }

  test("the loaded events fixture always surfaces ts as bigint nanos, batch and stream schema") {
    val ev = Tables(spark, TestSpark.sfDir, "events")
    assert(ev.schema("ts").dataType == LongType,
      s"events.ts must normalize to LongType nanos, got ${ev.schema("ts").dataType}")
    // plausibility: fixture timestamps are epoch nanos in [2000, 2100)
    val t = ev.agg(min("ts"), max("ts")).head
    val lo = 946684800L * 1000000000L
    val hi = 4102444800L * 1000000000L
    assert(t.getLong(0) >= lo && t.getLong(1) < hi,
      s"ts range ${t.getLong(0)}..${t.getLong(1)} not plausible epoch nanos")
    val st = Tables.streamEvents(spark, TestSpark.sfDir)
    assert(st.isStreaming && st.schema("ts").dataType == LongType)
  }

  // -------------------------------------------------------------------
  // Full-width fixture tripwire (round 12): pin the LOADED schema —
  // names, types, nullability, column order — of every fixture table,
  // so the next driver-side regeneration that drifts a physical type
  // (the ts incident, twice) fails ONE spec naming the table and the
  // exact field, instead of a scatter of query hash mismatches. The
  // events pin is the POST-normalization contract (bigint nanos), which
  // is what makes it flavor-independent across the two ts shipments;
  // date columns stay pinned to the current micros/NTZ flavor on
  // purpose — a new flavor must be triaged at the load point first.
  // -------------------------------------------------------------------

  private val expectedSchemas: Map[String, String] = Map(
    "region" -> "r_regionkey:int,r_name:string",
    "nation" -> "n_nationkey:int,n_name:string,n_regionkey:int",
    "customer" -> ("c_custkey:bigint,c_name:string,c_nationkey:int," +
      "c_acctbal:double,c_mktsegment:string"),
    "supplier" -> "s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double",
    "part" -> ("p_partkey:bigint,p_name:string,p_brand:string,p_type:string," +
      "p_size:int,p_retailprice:double"),
    "orders" -> ("o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string," +
      "o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string"),
    "lineitem" -> ("l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint," +
      "l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double," +
      "l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz"),
    "events" -> ("event_id:bigint,ts:bigint,user_id:bigint,event_type:string," +
      "value:double,props:string"),
    "documents" -> "doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint",
    "embeddings" -> "vec_id:bigint,embedding:array<float>,label:int")

  expectedSchemas.toSeq.sortBy(_._1).foreach { case (table, expected) =>
    test(s"fixture tripwire: $table loads with the pinned schema") {
      val df = Tables(spark, TestSpark.sfDir, table)
      val got = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      assert(got == expected,
        s"\nfixture '$table' drifted.\n  expected: $expected\n  loaded:   $got\n" +
          "If the driver regenerated the fixture with a new physical type, triage at " +
          "the Tables load point (the normalizeTs precedent), then update this pin.")
      assert(df.schema.fields.forall(_.nullable),
        s"fixture '$table': parquet fixtures have always loaded fully nullable; " +
          s"non-nullable fields: ${df.schema.fields.filterNot(_.nullable).map(_.name).mkString(",")}")
    }
  }

  // -------------------------------------------------------------------
  // Schema store: a repeated load passes in the schema inferred by the
  // first one, keyed by the files' content and the parquet confs — so an
  // overwritten table or a changed conf must be inferred afresh.
  // -------------------------------------------------------------------

  test("schema store: an overwritten table loads with its new schema") {
    val dir = java.nio.file.Files.createTempDirectory("tables-store").toString
    spark.range(3).select(col("id").cast("int").as("a"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"), "stored schema reused")
    spark.range(2).select(col("id").cast("string").as("b"), lit(1.5).as("c"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables(spark, dir, "t")
    assert(again.schema.map(f => f.name -> f.dataType) == Seq("b" -> StringType, "c" -> DoubleType))
    assert(again.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1"))
  }

  test("schema store: a changed parquet conf re-infers the schema") {
    val dir = java.nio.file.Files.createTempDirectory("tables-conf").toString
    spark.range(1).select(lit("x").cast("binary").as("bin"))
      .write.mode("overwrite").parquet(s"$dir/b.parquet")
    val key = "spark.sql.parquet.binaryAsString"
    try {
      spark.conf.set(key, "false")
      Tables(spark, dir, "b")
      assert(graft.JobCount(spark)(Tables(spark, dir, "b")) == 0, "same content and confs: stored")
      spark.conf.set(key, "true")
      assert(graft.JobCount(spark)(Tables(spark, dir, "b")) > 0, "a changed conf must re-infer")
    } finally spark.conf.unset(key)
  }

  test("schema store: a repeated events load still normalizes ts to bigint nanos") {
    val first = Tables(spark, TestSpark.sfDir, "events")
    val second = Tables(spark, TestSpark.sfDir, "events")
    assert(second.schema == first.schema && second.schema("ts").dataType == LongType)
    val ts = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy("event_id").select("ts").head(5).map(_.getLong(0)).toSeq
    assert(ts(second) == ts(first))
    assert(Tables.streamEvents(spark, TestSpark.sfDir).schema("ts").dataType == LongType)
  }
}
