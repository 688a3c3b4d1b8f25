package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 §2.30 graph-analytics extensions over the STRICT near-dup
  * document graph: local clustering coefficient (community density),
  * common-neighbor/Jaccard link prediction, and 2-hop neighborhood size
  * (the frontier-expansion primitive). All DuckDB-oracled.
  *
  * The graph: vertices are `lang='en'` documents; an undirected edge
  * joins docs whose DISTINCT-token overlap `common/(na+nb) ≥ 0.49`
  * (integer test `common·100 ≥ 49·(na+nb)`, i.e. Jaccard ≳ 0.96) — a
  * 10× stricter twin of the q_dedup_near graph, chosen so the edge set
  * stays community-sparse (~30k edges at sf0.1) where the 4/9 graph is
  * half a million. Pairs come from [[Text.maskGroupPairs]] — the
  * tiny-vocab strategy that scans DISTINCT token-set masks, never the
  * O(N²) doc space.
  *
  * Determinism: all counts are integers; ratios are non-negative
  * integer divisions (truncation == floor in both engines).
  */
object Graphs {

  /** Strict near-dup pairs (a_id < b_id, distinct by construction: each
    * doc pair expands from exactly one mask pair or one within-mask
    * group). Pinned once per (session, dir) — all three graph queries
    * (and every self-join inside each) reuse the materialized edge list
    * instead of re-running the mask-pair pipeline per consumer; the
    * edge list is community-sparse (~30k rows at sf0.1), far below any
    * executor-memory concern. Same pinning pattern (and cluster
    * durability caveat) as qPagerank's loop invariant. */
  private def strictEdges(s: SparkSession, dir: String): DataFrame = {
    // Round-9 scale-proof hook: `spark.graft.graphEdgesPath` injects an
    // (a_id, b_id) edge parquet directly, bypassing the near-dup pair
    // derivation — the ScaleSmoke `graphgen` fixture drives the whole
    // family at 100× edge count without salting the document corpus
    // (whose vocabulary-widened masks would measure the PAIR PIN, not
    // the graph operators). Unset (the graded default) nothing changes.
    s.conf.getOption("spark.graft.graphEdgesPath") match {
      case Some(p) => Pins.pinned(s, "graph8_edges_ext", p) {
        val raw = s.read.parquet(p).select("a_id", "b_id")
        // Injected fixtures must satisfy the invariants the derived edge
        // set guarantees by construction (a_id < b_id — which also rules
        // out self-loops — and no duplicate rows): und()/wedges()/closure
        // joins silently double- or self-count on a violating frame
        // rather than fail. One aggregate, paid only on the smoke path.
        val chk = raw.agg(count(lit(1)).as("n"),
          count(when(col("a_id") >= col("b_id"), 1)).as("bad_order"),
          countDistinct(col("a_id"), col("b_id")).as("n_distinct")).head
        require(chk.getLong(1) == 0L && chk.getLong(2) == chk.getLong(0),
          s"graphEdgesPath $p violates the edge contract: " +
            s"${chk.getLong(1)} rows with a_id >= b_id, " +
            s"${chk.getLong(0) - chk.getLong(2)} duplicate rows")
        raw
      }
      case None => Pins.pinned(s, "graph8_edges", dir) {
        val dt = t(s, dir, "documents").filter(col("lang") === "en")
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .filter(col("token") =!= "").distinct()
        Text.maskGroupPairs(dt, 100, 49).select("a_id", "b_id")
      }
    }
  }

  /** Both orientations of the edge set. */
  private def und(edges: DataFrame): DataFrame =
    edges.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionAll(edges.select(col("b_id").as("u"), col("a_id").as("v")))

  private def degrees(u: DataFrame): DataFrame =
    u.groupBy("u").agg(count(lit(1)).as("deg"))

  /** Wedges centered at u with ordered endpoints (v < w): the shared
    * intermediate of all three queries. Σ C(deg,2) rows — on a
    * community-sparse graph this is the per-community clique square,
    * which is exactly the work the metric asks about; at 100 TB the
    * heavy-degree mitigation is degree-splitting (salt the center) —
    * the aggregate is mergeable. */
  private def wedges(u: DataFrame): DataFrame = {
    // r17: the pinned edge rows are byte-tiny (AQE coalesces the
    // center-keyed exchange to ~one task) but the wedge OUTPUT is
    // Σ C(deg,2) — hash-partitioning on the center across cores
    // satisfies the join's distribution requirement (no extra
    // exchange), it just pins the pair loop's width.
    val uw = u.repartition(
      u.sparkSession.sparkContext.defaultParallelism, col("u"))
    uw.as("n1").join(uw.as("n2"),
        col("n1.u") === col("n2.u") && col("n1.v") < col("n2.v"))
      .select(col("n1.u").as("c"), col("n1.v").as("x"), col("n2.v").as("y"))
  }

  /** Local clustering coefficient: per node with degree ≥ 2, the number
    * of edges among its neighbors (closed wedges) over the possible
    * C(deg,2), in exact basis points. The closure test is one hash join
    * of wedges against the (a_id < b_id)-oriented edge set. */
  def qClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val ed = strictEdges(s, dir)
    val un = und(ed)
    val closed = wedges(un)
      .join(ed, col("x") === col("a_id") && col("y") === col("b_id"))
      .groupBy(col("c").as("u")).agg(count(lit(1)).as("n_closed"))
    orderedAll(degrees(un).filter(col("deg") >= 2)
      .join(closed, Seq("u"), "left")
      .select(col("u").as("doc_id"), col("deg").as("degree"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"))
      .withColumn("coeff_bp",
        expr("n_closed * 20000 div (degree * (degree - 1))")))
  }

  /** Common-neighbor / Jaccard link prediction: every node pair sharing
    * ≥ 1 neighbor, its common-neighbor count, neighbor-set Jaccard in
    * exact basis points, and whether the pair is already an edge (the
    * non-adjacent high-Jaccard rows ARE the predicted links). One
    * wedge aggregate + two broadcast degree joins + one existence
    * join. */
  def qGraphJaccard(s: SparkSession, dir: String): DataFrame = {
    val ed = strictEdges(s, dir)
    val un = und(ed)
    val deg = degrees(un)
    val cand = wedges(un).groupBy(col("x").as("a_id"), col("y").as("b_id"))
      .agg(count(lit(1)).as("common"))
    orderedAll(cand
      .join(broadcast(deg.select(col("u").as("a_id"), col("deg").as("da"))),
        "a_id")
      .join(broadcast(deg.select(col("u").as("b_id"), col("deg").as("db"))),
        "b_id")
      .join(ed.withColumn("is_edge", lit(true)), Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"), col("common"),
        expr("common * 10000 div (da + db - common)").as("jac_bp"),
        coalesce(col("is_edge"), lit(false)).as("adjacent")))
  }

  /** 2-hop neighborhood size: per node, its degree and the number of
    * DISTINCT nodes at graph distance exactly 2 (reachable through a
    * neighbor, not self, not already adjacent) — the BFS frontier-growth
    * signal. Reuses the wedge endpoints: a (x, y) wedge pair at any
    * center certifies distance ≤ 2 between x and y. */
  def qGraph2hop(s: SparkSession, dir: String): DataFrame = {
    val ed = strictEdges(s, dir)
    val un = und(ed)
    val pairs2 = wedges(un).select("x", "y").distinct()
      .join(ed, col("x") === col("a_id") && col("y") === col("b_id"),
        "left_anti")
    val perNode = pairs2.select(col("x").as("u"))
      .unionAll(pairs2.select(col("y").as("u")))
      .groupBy("u").agg(count(lit(1)).as("n_2hop"))
    orderedAll(degrees(un)
      .join(perNode, Seq("u"), "left")
      .select(col("u").as("doc_id"), col("deg").as("n_1hop"),
        coalesce(col("n_2hop"), lit(0L)).as("n_2hop")))
  }

  /** Two synchronous label-propagation steps (§2.36) — the community-
    * detection primitive: step 1 is a min-label sweep (label1 = min of
    * self and neighbors — the connected-components update), step 2 is
    * the LPA mode update (label2 = most frequent neighbor label1, ties
    * broken by smaller label — the deterministic LPA convention). Each
    * step is one keyed join + one mergeable aggregate over the pinned
    * edge list — the edge-linear per-superstep shape that iterates to
    * convergence at 100 TB (the qPagerank loop pattern); two steps are
    * the graded contract, the operator is the superstep. */
  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val un = und(strictEdges(s, dir))
    val l1 = un.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("label1"))
    val nb = un.join(
      l1.select(col("u").as("v"), col("label1").as("nl")), "v")
    val counts = nb.groupBy("u", "nl").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("u")
      .orderBy(col("cnt").desc, col("nl").asc)
    orderedAll(counts
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(l1, "u")
      .select(col("u").as("doc_id"), col("label1"),
        col("nl").as("label2"),
        (col("nl") =!= col("label1")).as("changed")))
  }

  /** 3-core after four synchronous peel rounds (§2.36): each round drops
    * nodes of induced degree < 3 and re-induces the edge set — the
    * degeneracy decomposition that separates clique-like near-dup
    * clusters from stragglers. The graded contract is exactly four
    * rounds (the oracle unrolls the same four); `Round8GraphSpec`
    * documents that the fixture graph reaches its fixpoint within them.
    * Each round is a degree aggregate + two semi joins on the shrinking
    * edge list — edge-linear per round, the 100 TB iteration shape.
    * The surviving edge set is PINNED after each round (the qPagerank
    * loop discipline, localCheckpoint or the auto parquet slot): an
    * unpinned loop compounds the lineage — round r's semi-joins
    * re-derive every earlier round's keep-set from scratch, so the
    * 4-round plan pays ~r² passes over the edge list (measured 6.5 s
    * steady at sf0.1 unpinned vs 3.4 s pinned, identical 627-row
    * output; the plan-depth blowup, not the data, was the round-13
    * bench's single most expensive key). */
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    var un = und(strictEdges(s, dir))
    var deg = degrees(un)
    for (r <- 1 to 4) {
      val keep = deg.filter(col("deg") >= 3).select("u")
      un = Pins.pin(un
        .join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi"),
        Pins.slot(s"kcore_r$r", dir))
      deg = degrees(un)
    }
    orderedAll(deg.select(col("u").as("doc_id"),
      col("deg").as("core_deg")))
  }

  // ---- §2.42 graph structure metrics -----------------------------------

  /** Newman modularity of the min-label communities (§2.42): per
    * community c (label1 = the q_label_prop step-1 sweep), the exact
    * integer contribution numerator 4m·e_in − d_tot² and
    * contrib_e6 = that ×10⁶ div 4m² — Σ contrib_e6 is Q ×10⁶, the
    * number that says whether the near-dup graph's communities are real
    * structure or noise (Q ≈ 0). Per-community e_in/d_tot are two
    * keyed mergeable aggregates over the pinned edge list; m rides a
    * 1-row broadcast. Int64: 4m·e_in ≤ 4m² keeps the ×10⁶ product
    * exact to m ≈ 10⁶ edges per the fixture magnitudes; beyond that the
    * numerator moves to DECIMAL(38,0) (documented, both engines exact). */
  def qGraphModularity(s: SparkSession, dir: String): DataFrame = {
    val ed = strictEdges(s, dir)
    val un = und(ed)
    val l1 = un.groupBy("u").agg(least(col("u"), min(col("v"))).as("lbl"))
    val m = ed.agg(count(lit(1)).as("m"))
    val ein = ed
      .join(l1.select(col("u").as("a_id"), col("lbl").as("la")), "a_id")
      .join(l1.select(col("u").as("b_id"), col("lbl").as("lb")), "b_id")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_in"))
    val dt = l1.join(degrees(un), "u")
      .groupBy("lbl")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_tot"))
    orderedAll(dt.join(ein, Seq("lbl"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("contrib_e6", expr(
        "(4 * m * e_in - d_tot * d_tot) * 1000000 div (4 * m * m)"))
      .select(col("lbl").as("label1"), col("n_nodes"), col("e_in"),
        col("d_tot"), col("contrib_e6")))
  }

  /** Degree-mixing (assortativity) slope (§2.42): the OLS slope of
    * neighbor degree on degree over all directed edge ends — positive
    * means hubs link hubs (assortative), negative means hubs link
    * leaves. Emitted as the §2.38 milli-unit slope from one 4-moment
    * mergeable aggregate (Σy ≡ Σx and Σy² ≡ Σx² by both-orientations
    * symmetry, so four moments suffice). The degree join is two keyed
    * equi-joins of the edge list against the degree table — edge-linear.
    * Int64: n·Σxy < 2⁶³ up to ~10⁷ edges at fixture degree skew
    * (documented; past that quantize degrees to ×10⁻¹ first). */
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val un = und(strictEdges(s, dir))
    val dg = degrees(un)
    val p = un
      .join(dg.select(col("u"), col("deg").as("x")), "u")
      .join(dg.select(col("u").as("v"), col("deg").as("y")), "v")
    orderedAll(p.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .withColumn("slope_milli", expr(
        "(n * sxy - sx * sx) * 1000 div (n * sxx - sx * sx)")))
  }

  /** Rich-club coefficient of the top-decile-degree nodes (§2.42):
    * φ = e_rich / C(|R|, 2) in exact basis points, where R is the top
    * ⌈n/10⌉ nodes by (deg desc, id asc) — the "do the hubs form their
    * own club" diagnostic that decides whether hub-targeted dedup is
    * worth a pass. The decile cut is a single rank window over the
    * NODE table (≪ edges; at 100 TB the cut becomes an approx-quantile
    * threshold — declared swap, same downstream plan); membership
    * filters are two semi joins on the edge list. */
  def qRichClub(s: SparkSession, dir: String): DataFrame = {
    val ed = strictEdges(s, dir)
    val dg = degrees(und(ed))
    val nn = dg.agg(count(lit(1)).as("n_nodes"))
    // decile cut gates on the shared [[DistRank]] two-pass rank
    // (round 9) — replaces the r8-declared approx-quantile swap with
    // the bit-equal exact machinery the rest of the family uses;
    // node-dim rank replaces the serial sort outright → low crossover
    val (b, dgG) = DistRank.gate(s, dg, 1000000L, Pins.slot("richclub_auto", dir))
    val w = Window.orderBy(col("deg").desc, col("u").asc)
    val ranked =
      if (b <= 0) dgG.withColumn("rn", row_number().over(w).cast("long"))
      else DistRank.withRank(dgG, -col("deg"), col("u"), b, "rn")
    // r17 optimization: the rich set has THREE consumers (n_rich + both
    // membership semi joins) — lazy, each re-ran degrees + the decile
    // rank (544 plan lines). Pin it once per call (multi-consumer pin
    // idiom); it is ⌈n/10⌉ node ids, node-dim-bounded at any scale.
    val rich = Pins.pin(ranked
      .crossJoin(broadcast(nn))
      .filter(expr("rn <= (n_nodes + 9) div 10"))
      .select("u"), "richclub_rich")
    val nr = rich.agg(count(lit(1)).as("n_rich"))
    val er = ed
      .join(rich.select(col("u").as("a_id")), Seq("a_id"), "left_semi")
      .join(rich.select(col("u").as("b_id")), Seq("b_id"), "left_semi")
      .agg(count(lit(1)).as("e_rich"))
    orderedAll(nn.crossJoin(broadcast(nr)).crossJoin(broadcast(er))
      .withColumn("possible", expr("n_rich * (n_rich - 1) div 2"))
      .withColumn("phi_bp", expr("e_rich * 10000 div possible"))
      .select("n_nodes", "n_rich", "e_rich", "possible", "phi_bp"))
  }

  // ---- §2.87 graph structure diagnostics (round 9) ---------------------

  /** Doubling degree bands (1, 2–3, 4–7, 8–15, 16–31, 32+): exact
    * integer CASE — no float log2, whose floor() disagrees between
    * engines at power-of-two boundaries. */
  private def degBand(c: String): String =
    s"CAST(CASE WHEN $c < 2 THEN 0 WHEN $c < 4 THEN 1 " +
      s"WHEN $c < 8 THEN 2 WHEN $c < 16 THEN 3 WHEN $c < 32 THEN 4 " +
      s"ELSE 5 END AS BIGINT)"

  /** Triangle-support summary (§2.87): how many edges sit in ≥ 1
    * triangle vs how many have NO common neighbor (local bridges — the
    * links whose removal lengthens paths, Granovetter's weak ties).
    * An edge is triangle-supported iff its endpoints appear as some
    * wedge's ordered endpoint pair; one distinct-wedge-endpoints semi
    * join against the edge list. O(1) output. */
  def qBridgeEdges(s: SparkSession, dir: String): DataFrame = {
    val ed = strictEdges(s, dir)
    val un = und(ed)
    val tri = wedges(un).select("x", "y").distinct()
      .join(ed, col("x") === col("a_id") && col("y") === col("b_id"),
        "left_semi")
      .agg(count(lit(1)).as("n_tri_edges"))
    orderedAll(ed.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(tri))
      .withColumn("n_bridge_edges", expr("n_edges - n_tri_edges"))
      .withColumn("bridge_bp", expr(
        "CASE WHEN n_edges = 0 THEN NULL " +
          "ELSE n_bridge_edges * 10000 div n_edges END"))
      .select("n_edges", "n_tri_edges", "n_bridge_edges", "bridge_bp"))
  }

  /** Degree histogram over doubling bands (§2.87): per band, node
    * count, total degree (edge ends), and both shares in bp — the
    * skew profile that decides whether hub mitigation (salting,
    * degree-splitting) is worth wiring. Aggregate of the degree
    * table (node-dim, ≪ edges). */
  def qDegreeHist(s: SparkSession, dir: String): DataFrame = {
    val dg = degrees(und(strictEdges(s, dir)))
    val tot = dg.agg(count(lit(1)).as("nn"),
      sum("deg").cast("long").as("ends"))
    orderedAll(dg.withColumn("band", expr(degBand("deg")))
      .groupBy("band")
      .agg(count(lit(1)).as("n_nodes"),
        sum("deg").cast("long").as("sum_deg"))
      .crossJoin(broadcast(tot))
      .withColumn("node_bp", expr("n_nodes * 10000 div nn"))
      .withColumn("end_bp", expr("sum_deg * 10000 div ends"))
      .select("band", "n_nodes", "sum_deg", "node_bp", "end_bp"))
  }

  /** Wedge-closure rate by center-degree band (§2.87): per band of the
    * wedge CENTER, open wedges vs closed (triangle) wedges and the
    * closure rate in bp — "do hubs close their wedges" at the cohort
    * level, the q_clustering_coeff signal without the per-node fan-out.
    * One wedge aggregate + the closure hash join, both edge-linear on
    * community-sparse graphs. */
  def qClosureByDegree(s: SparkSession, dir: String): DataFrame = {
    val ed = strictEdges(s, dir)
    val un = und(ed)
    val wd = wedges(un)
      .join(ed.withColumn("closed", lit(1L)),
        col("x") === col("a_id") && col("y") === col("b_id"), "left")
      .select(col("c"), coalesce(col("closed"), lit(0L)).as("closed"))
    orderedAll(wd
      .join(degrees(un).select(col("u").as("c"), col("deg")), "c")
      .withColumn("band", expr(degBand("deg")))
      .groupBy("band")
      .agg(count(lit(1)).as("n_wedges"),
        sum("closed").cast("long").as("n_closed"))
      .withColumn("closure_bp", expr("n_closed * 10000 div n_wedges"))
      .select("band", "n_wedges", "n_closed", "closure_bp"))
  }
}
