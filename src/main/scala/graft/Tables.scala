package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Pinned input schemas for the driver-generated test tables (FIXTURES.md).
  *
  * Schema-on-read is the reference genre's model (records parsed in the
  * mapper); we instead pin one explicit StructType per table and fail fast
  * on drift (SURVEY §1.1). We do NOT pass the schema to the reader (the
  * Parquet footer is authoritative for physical decoding — e.g. `events.ts`
  * is timestamp[ns], which Spark truncates to µs on read); we verify the
  * column set and re-project to canonical order so every operator sees a
  * stable shape.
  */
object Tables {
  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  val schemas: Map[String, StructType] = Map(
    "region" -> st("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "supplier" -> st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "customer" -> st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "part" -> st("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> st("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> st("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> st("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
  )

  // Plan cache: spark.read.parquet lists the directory and reads footers
  // on every call; with ~100 queries × several tables each that fixed cost
  // adds seconds per harness run. DataFrames are immutable logical plans,
  // so reusing one per (session, dir, table) is safe while the dir's files
  // are unchanged — ops.Pins keys and bounds it with the session pins.
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ops.Pins.memo(spark, sfDir, "table", name)(load(spark, sfDir, name))

  private def load(spark: SparkSession, sfDir: String,
      name: String): DataFrame = {
    val expected = schemas.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name"))
    // events.ts is Parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
    // as a timestamp (PARQUET_TYPE_ILLEGAL). Read it as a raw ns long via
    // the legacy conf, then truncate ns→µs into a proper TimestampType so
    // every downstream operator sees microsecond timestamps (the oracle
    // side mirrors with DuckDB epoch_us truncation — SURVEY §1.2.1).
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The round-8 fixture regen writes naive timestamp[us], which Spark 4
    // infers as TIMESTAMP_NTZ by default — breaking unix_micros()/long
    // casts across ~30 queries. Pin inference to LTZ (session TZ is UTC,
    // so wall-clock == instant and DuckDB's naive reading agrees).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    require(raw.columns.toSet == expected.fieldNames.toSet,
      s"schema drift on $name: got ${raw.columns.mkString(",")}, " +
        s"expected ${expected.fieldNames.mkString(",")}")
    // The ns→µs conversion applies only when ts actually arrived as a raw
    // ns long (the driver fixture); a re-written events table (e.g. the
    // ScaleSmoke 10× dir) already carries µs TimestampType and reads
    // through unchanged.
    val df =
      if (name == "events" && raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", org.apache.spark.sql.functions
          .expr("timestamp_micros(ts div 1000)"))
      else raw
    // Defense in depth for the NTZ inference conf above: if a timestamp
    // column still arrived as TIMESTAMP_NTZ (conf raced a concurrent read,
    // or a future Spark drops the flag), cast it to the pinned LTZ type —
    // value-identical under the UTC session TZ.
    val norm = expected.fields.foldLeft(df) { (acc, f) =>
      if (f.dataType == TimestampType &&
          acc.schema(f.name).dataType == TimestampNTZType)
        acc.withColumn(f.name, acc.col(f.name).cast(TimestampType))
      else acc
    }
    norm.select(expected.fieldNames.map(norm.col).toIndexedSeq: _*)
  }
}
