package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the graft operator library.
  *
  * Two cross-engine determinism policies live here (SURVEY §5.3):
  *
  *  - [[ops.orderedAll]]: every graded query emits rows in a total order
  *    (all columns, ascending, NULLS LAST) matching the oracle's
  *    `ORDER BY ALL` (DuckDB's default null order is NULLS LAST), so the
  *    result is deterministic whether or not the comparer sorts rows.
  *
  *  - [[ops.dsum]]: monetary sums over large groups are computed in
  *    DECIMAL(18,2), which is exact and addition-order-independent in both
  *    Spark and DuckDB, then cast back to double. A raw double sum over
  *    10k+ addends accumulates enough FP error (~1e-4 at TPC-H magnitudes)
  *    to flap a round(…,4) hash compare; a decimal sum cannot.
  */
package object ops {
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables.table(spark, sfDir, name)

  /** Total-order output: sort by every column, asc, NULLS LAST (matches
    * DuckDB `ORDER BY ALL` under its default null ordering).
    *
    * Implemented as repartition(1) + partition-local sort, not a global
    * orderBy: a global sort range-samples its input, re-evaluating the
    * whole upstream plan a second time, while every graded output is small
    * (≤ ~100k rows) and Verify coalesces to one file regardless. Result
    * rows are identical; only the physical sort strategy differs. */
  def orderedAll(df: DataFrame): DataFrame =
    df.repartition(1).sortWithinPartitions(
      df.columns.map(c => col(c).asc_nulls_last).toIndexedSeq: _*)

  /** Exact, order-independent money sum: sum in DECIMAL(18,2), emit double.
    * Oracle twin: `round(CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE), 2)`.
    *
    * Only safe on columns whose doubles carry ≤2 decimal digits at the
    * source (money columns): there the decimal cast is unambiguous in both
    * engines. A COMPUTED double (a product) must NOT be cast directly —
    * Spark casts double→decimal via the shortest string representation
    * (BigDecimal.valueOf) while DuckDB rounds the true binary value, and
    * the two disagree on x.xx5-boundary products. For products, cast the
    * exact factors with [[dmoney]]/[[dfrac]] and multiply in decimal. */
  def dsum(c: Column): Column =
    round(sum(c.cast(DecimalType(18, 2))).cast("double"), 2)

  /** Exact decimal image of a 2-dp money column (factor for decimal mult). */
  def dmoney(c: Column): Column = c.cast(DecimalType(15, 2))

  /** Exact decimal image of a 2-dp fraction like (1 - discount). */
  def dfrac(c: Column): Column = c.cast(DecimalType(4, 2))

  /** Order-independent sum of an already-decimal product, emitted double. */
  def dsumExact(c: Column): Column = round(sum(c).cast("double"), 2)

  /** The TPC-H discounted price `l_extendedprice * (1 − l_discount)` as an
    * exact decimal product (oracle twin: `Oracles.discPrice`) — the one
    * revenue expression every report query shares, hoisted so a precision
    * policy change happens in exactly one place per engine. */
  def discPrice: Column =
    dmoney(col("l_extendedprice")) * dfrac(lit(1.0) - col("l_discount"))

  /** The deterministic hash sample: true where the first 4 hex digits
    * of md5(`idCol`), read as h ∈ [0, 65536), satisfy h·10⁴ < bp·65536,
    * so a row is kept at a rate of `bp` basis points. Unlike rand() or
    * TABLESAMPLE the kept set is the same on any cluster size, any
    * partitioning and in any engine. */
  def md5Sample(idCol: String, bp: Int): Column =
    expr(s"CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 4), " +
      s"16, 10) AS BIGINT) * 10000 < $bp * 65536")

  /** Lower-cased whitespace tokens of a documents.text column. */
  def tokens(c: Column): Column = split(lower(c), " ")

  /** Scan-parallelism spread for per-row-heavy projections (guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read"). A small single-file, single-row-group parquet
    * table arrives as ONE scan task, so an expensive downstream
    * projection (32× md5 per row, n-gram explode, tokenization) runs
    * serially no matter how many cores the session has — 8 cores
    * measured as fast as 32 on exactly these queries (PERF_r16
    * scaling ≈ 1.0). Redistributes the already-projected rows
    * round-robin across the session's cores BEFORE the heavy work.
    * Gated on the table's on-disk size: when the file set already
    * yields at least one scan split per core (any real at-scale
    * table), this is the identity — nothing is added to the 100 TB
    * plan, and the gate reads file metadata only (no Spark job). */
  def spread(df: DataFrame, sfDir: String, table: String,
             keys: Column*): DataFrame = {
    val s = df.sparkSession
    val cores = s.sparkContext.defaultParallelism
    val f = new java.io.File(s"$sfDir/$table.parquet")
    val bytes: Long =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(_.length()).sum).getOrElse(Long.MaxValue)
      else if (f.isFile) f.length()
      else Long.MaxValue // unknown layout: assume big, change nothing
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    if (bytes >= cores.toLong * maxSplit) df
    // Keyed spread: when the downstream work is keyed (a groupBy on the
    // same columns), hash-partitioning on that key lets the aggregate
    // reuse this exchange (guide §2.4) AND skips round-robin's local
    // sort-before-repartition of the single scan partition.
    else if (keys.nonEmpty) df.repartition(cores, keys: _*)
    else df.repartition(cores)
  }
}
