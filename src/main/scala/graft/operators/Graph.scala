package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoints.TruncateOps

/** PageRank (Brin & Page 1998) over an edge DataFrame — the graph
  * centrality pass a crawl pipeline runs to weight documents by link
  * authority (host graphs, citation graphs, co-purchase graphs).
  *
  * Exactness discipline: ranks are BIGINT fixed-point in 1e-9 units
  * ("e9"), updates use only integer multiply/truncating-divide/sum —
  * r' = base + (num · Σ_{u→v} (r_u div d_u)) div den — so a fixed
  * iteration count is bit-reproducible across engines and partitionings
  * (double-arithmetic PageRank sums in nondeterministic order). The
  * truncation loses < 1e-9 of mass per hop — noise four orders below any
  * ranking decision, and a price worth paying for a hash-gateable score.
  * Dangling nodes (no out-edges) evaporate their mass, the standard
  * simplification; every node keeps the base term, so none disappears.
  *
  * Scale shape: per iteration ONE join of the edge list with the rank
  * frame on `src` (both shuffle-partitioned on the same key; Catalyst
  * reuses the exchange) and one `dst` aggregation with map-side partial
  * sums. Edges, degrees and nodes persist once and feed every round.
  * There is NO per-iteration action, so short runs execute as ONE job
  * over the nested plan (5 eager localCheckpoints measured 3× slower
  * than the single-job plan at 1.8M edges); every `checkpointEvery`
  * rounds the rank frame localCheckpoints to keep deep-iteration DAGs
  * and their analysis cost bounded.
  */
object Graph {

  /** `iterations` rounds of damped PageRank over distinct (src, dst)
    * edges. Output: (idCol = srcCol's name, rank_e9). Damping is the
    * rational num/den (default 85/100).
    *
    * With `seeds`, this is PERSONALIZED PageRank (Page et al. 1999 §6 /
    * Jeh & Widom 2003 — the recommender/trust-propagation variant):
    * initial mass and the teleport (base) term land ONLY on the seed
    * nodes, so steady-state rank measures proximity TO THE SEED SET
    * rather than global authority; non-seeds hold rank only through
    * in-links. Same integer fixed-point discipline — seeds carry
    * 1e9 + base exactly as every node does globally — so both flavors
    * hash-gate with one arithmetic. */
  def pageRankE9(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, dampNum: Long = 85L, dampDen: Long = 100L,
      checkpointEvery: Int = 8,
      seeds: Option[DataFrame] = None, seedIdCol: String = "id"): DataFrame = {
    require(iterations >= 1 && dampNum > 0 && dampDen >= dampNum)
    require(checkpointEvery >= 1)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodesPlain = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    // seed flag rides the node frame so every round's base term is one
    // conditional projection — no per-round join against the seed set
    val nodes = (seeds match {
      case None => nodesPlain.withColumn("isSeed", lit(true))
      case Some(s) => nodesPlain.join(
          broadcast(s.select(col(seedIdCol).as("id")).distinct()
            .withColumn("isSeed", lit(true))),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("isSeed"), lit(false)).as("isSeed"))
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = (1000000000L * (dampDen - dampNum)) / dampDen
    val baseCol = when(col("isSeed"), lit(base)).otherwise(lit(0L))
    var r = nodes.select(col("id"),
      when(col("isSeed"), lit(1000000000L)).otherwise(lit(0L)).as("r"))
    for (i <- 1 to iterations) {
      val contrib = e.join(deg, "src")
        .join(r.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("r div d").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("m"))
      r = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"), (baseCol +
          expr(s"($dampNum * coalesce(m, CAST(0 AS BIGINT))) div $dampDen"))
          .as("r"))
      if (i % checkpointEvery == 0 && i < iterations)
        r = r.truncate(true)
    }
    // persisted inputs stay cached until the caller's action (the session
    // clearCache()/unpersist discipline — the q21 shared-subtree rule)
    r.select(col("id").as(srcCol), col("r").as("rank_e9"))
  }

  /** Synchronous label propagation (Raghavan, Albert, Kumara 2007, "Near
    * linear time algorithm to detect community structures" — public
    * result): every node starts labeled with its own id; each round it
    * adopts the most frequent label among its in-neighbors. Communities —
    * unlike connected components (which min-label propagation would
    * reproduce) — reflect edge DENSITY: a node inside a tight cluster
    * hears that cluster's label more often than any bridge label.
    *
    * Determinism discipline: rounds are SYNCHRONOUS (all nodes update from
    * the round-(i−1) labels — asynchronous LPA is update-order dependent)
    * and the frequency argmax breaks ties as (count DESC, label ASC), so a
    * fixed iteration count is bit-reproducible across engines and
    * partitionings. Nodes with no in-edges keep their current label.
    *
    * Scale shape: per round ONE join of the (distinct, persisted) edge
    * list with the label frame on `src` and one (dst, label) count with
    * map-side partial aggregation — label cardinality only shrinks, so
    * rounds get cheaper as communities coalesce. Unlike pageRank, whose
    * rank frame is consumed ONCE per round (a linear nested plan, best run
    * as one job), the label frame feeds BOTH next-round consumers — the
    * vote count and the keep-old-label fallback — so a nested logical plan
    * doubles the label subtree per round: 2^k copies that the analyzer and
    * every optimizer rule walk even when a cache dedups execution
    * (measured: lazy persist still left ~8 s of pure plan overhead at k=4,
    * sf-independent). Each round therefore ends in a localCheckpoint,
    * truncating the plan to a LogicalRDD leaf. r15 optimization round:
    * the checkpoint is now LAZY (eager = false) — the logical plan is
    * truncated immediately either way (plan size stays O(1) per round),
    * but the rounds' RDDs materialize inside the final action as ONE
    * job instead of k scheduler round-trips (q84 3.8 → 3.5 s warm,
    * q86 3.8 → 3.1 s; same trick across the BFS/SSSP/k-core loops).
    * Output: (idCol = srcCol's name, community). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var lab = nodes.withColumn("lab", col("id"))
    for (i <- 1 to iterations) {
      val cnt = e.join(lab.select(col("id").as("src"), col("lab").as("nl")), "src")
        .groupBy(col("dst").as("id"), col("nl"))
        .agg(count(lit(1)).as("c"))
      // argmax by (count DESC, label ASC) as min(struct(-c, nl)) — a
      // hash aggregate with map-side partials instead of the previous
      // per-id sort window (r15 optimization round); identical winner
      // under the identical total order.
      val next = cnt
        .groupBy(col("id"))
        .agg(min(struct((-col("c")).as("nc"), col("nl").as("nl"))).as("m"))
        .select(col("id"), col("m.nl").as("nl"))
      lab = lab.join(next, Seq("id"), "left")
        .select(col("id"), coalesce(col("nl"), col("lab")).as("lab"))
      if (i < iterations) lab = lab.truncate(false)
    }
    lab.select(col("id").as(srcCol), col("lab").as("community"))
  }

  /** Per-node triangle counts via degree orientation (Suri &
    * Vassilvitskii, WWW'11, "Counting triangles and the curse of the last
    * reducer" — public result). Edges canonicalize undirected, then each
    * orients from the endpoint with the SMALLER (degree, id) key to the
    * larger. That caps every out-degree at O(√m), which is the whole
    * point at scale: wedge generation — the quadratic step — is
    * Σ d_out(v)², so an unoriented hub of degree D would emit D² wedges
    * into one reducer (the "last reducer" curse) while the oriented
    * build spreads O(m^{3/2}) wedges evenly. A wedge (y, z) hanging off
    * x closes iff the oriented edge y→z exists; each triangle
    * materializes exactly once (at its smallest-key corner) and credits
    * all three corners.
    *
    * Plan shape: canonical edges persist once and feed the degree count,
    * the orientation, both wedge sides and the closure probe; closure is
    * ONE equi-join on (y, z) — no cartesian; corners explode + count with
    * map-side partials; zero-triangle nodes survive via left join.
    * Counts are exact integers — deterministic with no tie-break needed.
    * Output: (idCol = srcCol's name, triangles). */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct()
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val ka = struct(col("da").as("d"), col("a").as("i"))
    val kb = struct(col("db").as("d"), col("b").as("i"))
    val aFirst = ka < kb
    val o = e
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, kb).otherwise(ka).as("kdst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = o.select(col("src"), col("dst").as("y"), col("kdst").as("ky"))
      .join(o.select(col("src"), col("dst").as("z"), col("kdst").as("kz")), Seq("src"))
      .where(col("ky") < col("kz"))
      .select(col("src").as("x"), col("y"), col("z"))
    val tri = wedges
      .join(o.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
    val corners = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("t"))
    nodes.join(corners, Seq("id"), "left")
      .select(col("id").as(srcCol), coalesce(col("t"), lit(0L)).as("triangles"))
  }

  /** Per-EDGE triangle support — the k-truss building block (Cohen 2008,
    * "Trusses: cohesive subgraphs for social network analysis"): each
    * undirected edge (a < b) with the number of triangles it closes,
    * 0-support edges included. Same degree-oriented wedge plan as
    * [[triangleCounts]] (√m wedge cap, one equi-join closure); each
    * found triangle is then charged to its three canonical edges via one
    * explode + hash aggregate. A k-truss peel iterates this support the
    * way k-core iterates degrees; one support pass is the per-round
    * primitive.
    */
  def edgeSupport(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val ka = struct(col("da").as("d"), col("a").as("i"))
    val kb = struct(col("db").as("d"), col("b").as("i"))
    val aFirst = ka < kb
    val o = e
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, kb).otherwise(ka).as("kdst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = o.select(col("src"), col("dst").as("y"), col("kdst").as("ky"))
      .join(o.select(col("src"), col("dst").as("z"), col("kdst").as("kz")), Seq("src"))
      .where(col("ky") < col("kz"))
      .select(col("src").as("x"), col("y"), col("z"))
    val tri = wedges
      .join(o.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
    val triEdges = tri.select(explode(array(
        struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")),
        struct(least(col("x"), col("z")).as("a"),
          greatest(col("x"), col("z")).as("b")),
        struct(least(col("y"), col("z")).as("a"),
          greatest(col("y"), col("z")).as("b")))).as("ed"))
      .groupBy(col("ed.a").as("a"), col("ed.b").as("b"))
      .agg(count(lit(1)).as("support"))
    e.join(triEdges, Seq("a", "b"), "left")
      .select(col("a").as(srcCol), col("b").as(dstCol),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Per-community modularity contributions (Newman & Girvan 2004,
    * "Finding and evaluating community structure in networks" — public
    * result) in EXACT integer arithmetic: with m undirected edges,
    * community degree sum D_c and internal edge count E_c,
    *
    *   Q · (2m)² = Σ_c (4m·E_c − D_c²)
    *
    * so `q_num` here is each community's exact integer share and global
    * modularity is Σ q_num / (2m)² — no doubles anywhere, hash-gateable.
    * This is the evaluation step a pipeline runs AFTER community
    * detection ([[labelPropagation]]): is the partition better than
    * chance (q_num sum > 0), and which communities carry it.
    *
    * Shape: one endpoint unpivot (2|E| rows) joined ONCE against the
    * label frame — degree sums fall out as plain counts because a node
    * appears once per incident edge; per-edge community pairs regroup the
    * same join output, so the (possibly expensive) label lineage is
    * consumed a single time. The edge count rides a broadcast one-row
    * frame. Labels must cover every edge endpoint (inner join drops
    * unlabeled nodes — feed the SAME edge set the labels came from).
    * Output: (community, nodes, degree_sum, internal_edges, q_num). */
  def modularityParts(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lab = labels.select(col(idCol).as("node"), col(labelCol).as("lab"))
    val ends = e.select(col("a"), col("b"), col("a").as("node"))
      .unionByName(e.select(col("a"), col("b"), col("b").as("node")))
    val el = ends.join(lab, "node")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val degSum = el.groupBy(col("lab").as("community"))
      .agg(count_distinct(col("node")).as("nodes"),
        count(lit(1)).as("degree_sum"))
    val intra = el
      .groupBy(col("a"), col("b"))
      .agg(min(col("lab")).as("ca"), max(col("lab")).as("cb"))
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val m = broadcast(e.agg(count(lit(1)).as("m")))
    degSum.join(intra, Seq("community"), "left")
      .crossJoin(m)
      .select(col("community"), col("nodes"), col("degree_sum"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        (lit(4L) * col("m") * coalesce(col("internal_edges"), lit(0L)) -
          col("degree_sum") * col("degree_sum")).as("q_num"))
  }

  /** Bounded-round k-core peeling (Seidman 1983 coreness, the
    * Batagelj–Zaveršnik peel run synchronously): each round drops every
    * node whose CURRENT degree is < k and induces the surviving
    * subgraph; `rounds` rounds of the cascade (run to a fixpoint this IS
    * the k-core — bounded rounds keep the oracle unrollable and the
    * lineage finite, the q84 LPA discipline). The dense-subgraph /
    * spam-ring extractor of graph cleaning.
    *
    * Input: DISTINCT directed edge pairs with both directions present
    * (the co-occurrence-graph convention here); degree = out-degree
    * then. Per round: one map-side-combined degree aggregation + two
    * semi-joins to induce, localCheckpoint truncates the per-round plan
    * (bounded-round iterative lineage, same as PageRank). Output:
    * (node, deg) of the subgraph after the final round. */
  /** Conductance (cut quality) of a DECLARED node partition over an
    * undirected graph — the companion readout to [[modularityParts]]:
    * modularity rewards dense insides, conductance exposes leaky
    * boundaries. For each part S,
    *
    *   φ(S)·1e6 = cut(S) · 1e6 div min(vol(S), 2m − vol(S))
    *
    * with vol(S) = Σ_{v∈S} deg(v) over the canonicalized distinct edge
    * set, cut(S) = #edges with exactly one endpoint in S, and NULL when
    * the min is 0 (an empty or everything part has no boundary to
    * grade). Exact integers end to end — counts and one truncating div.
    *
    * Shape: one distinct over the edge list, one join of edge
    * endpoints to the (node→part) map, then hash aggregates at part
    * grain; the cross-part cut mass is charged to BOTH sides via a
    * 2-element explode of the per-edge label pair, never a second scan.
    * One broadcast scalar (2m). No iteration — the partition is input,
    * so cost is one shuffle of the edge list regardless of data scale. */
  def conductanceParts(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lab = labels.select(col(idCol).as("node"), col(labelCol).as("lab"))
    val ends = e.select(col("a"), col("b"), col("a").as("node"))
      .unionByName(e.select(col("a"), col("b"), col("b").as("node")))
    val el = ends.join(lab, "node")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vol = el.groupBy(col("lab").as("community"))
      .agg(count_distinct(col("node")).as("nodes"),
        count(lit(1)).as("volume"))
    val perEdge = el.groupBy(col("a"), col("b"))
      .agg(min(col("lab")).as("ca"), max(col("lab")).as("cb"))
    val internal = perEdge.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val cut = perEdge.where(col("ca") =!= col("cb"))
      .select(explode(array(col("ca"), col("cb"))).as("community"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("cut_edges"))
    val twoM = broadcast(e.agg((count(lit(1)) * lit(2L)).as("__vt")))
    val out = vol
      .join(internal, Seq("community"), "left")
      .join(cut, Seq("community"), "left")
      .crossJoin(twoM)
      .select(col("community"), col("nodes"), col("volume"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"),
        expr(
          """CASE WHEN least(volume, __vt - volume) = 0 THEN NULL
            | ELSE CAST(CAST(coalesce(cut_edges, 0) AS DECIMAL(38,0))
            |   * 1000000 div least(volume, __vt - volume) AS BIGINT)
            | END""".stripMargin).as("conductance_e6"))
    // e/el stay persisted until the caller's clearCache (same contract
    // as modularityParts — the consumers above share them lazily).
    out
  }

  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 64)
    var e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .truncate(true)
    var i = 0
    while (i < rounds) {
      val keep = e.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("a"))
      e = e.join(keep, "a")
        .join(keep.withColumnRenamed("a", "b"), "b")
        .select(col("a"), col("b"))
        .truncate(false)
      i += 1
    }
    e.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** WEIGHTED damped PageRank — the co-occurrence-graph variant where a
    * neighbor heard 40× deserves 40× the mass of one heard once: round
    * update r' = base + (num · Σ_{u→v} (r_u·w_uv div W_u)) div den with
    * W_u = Σ_w out-weights, same integer fixed-point discipline as
    * [[pageRankE9]] (truncating divisions, order-free integer sums —
    * hash-gateable at a fixed iteration count). Caller contract:
    * positive integer weights with max(r)·max(w) inside BIGINT — r is
    * bounded by 1e9·|nodes|, so multiplicity-style weights (≤ ~1e6)
    * are safe. Same per-round single-join shape; edges arrive
    * pre-aggregated (one row per (src, dst) with its weight). */
  def pageRankWeightedE9(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int, dampNum: Long = 85L,
      dampDen: Long = 100L, checkpointEvery: Int = 8): DataFrame = {
    require(iterations >= 1 && dampNum > 0 && dampDen >= dampNum)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wsum = e.groupBy(col("src")).agg(sum(col("w")).as("ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = (1000000000L * (dampDen - dampNum)) / dampDen
    var r = nodes.select(col("id"), lit(1000000000L).as("r"))
    for (i <- 1 to iterations) {
      val contrib = e.join(wsum, "src")
        .join(r.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("(r * w) div ws").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("m"))
      r = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"), (lit(base) +
          expr(s"($dampNum * coalesce(m, CAST(0 AS BIGINT))) div $dampDen"))
          .as("r"))
      if (i % checkpointEvery == 0 && i < iterations)
        r = r.truncate(true)
    }
    r.select(col("id").as(srcCol), col("r").as("rank_e9"))
  }

  /** Degree-assortativity sufficient statistics (Newman 2002, "Assortative
    * mixing in networks" — public result): the Pearson correlation of
    * (out-degree(src), in-degree(dst)) over directed edges, reported as
    * the exact BIGINT sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²)
    * plus the cross-multiplied numerator/denominator pieces — the q148
    * OLS discipline applied to graph structure, so the gate never hashes
    * a double. One degree census per side + one edge join.
    * corr = (n·Σxy − Σx·Σy) / √((n·Σx²−(Σx)²)(n·Σy²−(Σy)²)). */
  def degreeAssortativityStats(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("x"))
    val inDeg = e.groupBy(col("dst")).agg(count(lit(1)).as("y"))
    e.join(outDeg, "src").join(inDeg, "dst")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_x"),
        sum(col("y")).as("sum_y"), sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_xx"),
        sum(col("y") * col("y")).as("sum_yy"))
      .withColumn("corr_num", expr("n * sum_xy - sum_x * sum_y"))
      .withColumn("var_x", expr("n * sum_xx - sum_x * sum_x"))
      .withColumn("var_y", expr("n * sum_yy - sum_y * sum_y"))
  }

  /** Bounded-depth BFS hop counts from a seed set — the reachability
    * pass link-graph pipelines run to scope a crawl frontier or bound a
    * neighborhood sample (seed expansion). Frontier-style level-sync
    * BFS (Cormen et al., CLRS §22.2 — public textbook algorithm): round
    * i joins ONLY the hop-(i−1) frontier against the edge list and
    * anti-joins the visited set, so per-round work is proportional to
    * the frontier, not the graph. Hops are exact integers — trivially
    * hash-gateable, no arithmetic discipline needed.
    *
    * Rounds end in LAZY localCheckpoints (r15): the plan still truncates
    * per round, but nothing materializes until the caller's first
    * action, which folds all rounds into one job. The edge frame
    * therefore stays persisted for the caller to release (the
    * [[labelPropagation]] clearCache contract) — an in-function
    * unpersist would run before anything materialized and every round
    * would re-shuffle the distinct (r16, ADVICE).
    * Seeds always appear in the output at hop 0, edge-connected or not.
    * Output: (idCol = srcCol's name, hops). */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedIdCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.select(col(seedIdCol).as("id")).distinct()
      .withColumn("hops", lit(0L)).truncate(true)
    var frontier = dist
    var i = 1
    while (i <= maxHops) {
      val next = frontier.select(col("id").as("src"))
        .join(e, "src").select(col("dst").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
        .withColumn("hops", lit(i.toLong))
        .truncate(false)
      dist = dist.unionByName(next).truncate(false)
      frontier = next
      i += 1
    }
    dist.select(col("id").as(srcCol), col("hops"))
  }

  /** Round-bounded single-source shortest paths over integer edge
    * weights — Bellman-Ford relaxation (CLRS §24.1), the form that maps
    * to joins: round i replaxes every edge out of the current distance
    * frame and keeps the per-node minimum, so after k rounds `cost` is
    * exact over all paths of ≤ k edges (the bounded-horizon semantics a
    * feed/recommendation pipeline wants: influence beyond a few hops is
    * noise). Integer weights ⇒ integer costs ⇒ hash-gateable.
    *
    * Scale shape: per round ONE shuffle join of the distance frame with
    * the (persisted) edge list on `src` and one min-aggregation with
    * map-side partials — the SSSP twin of [[pageRankE9]]'s round shape.
    * Rounds end in LAZY localCheckpoints (plan truncated, all rounds one
    * job at the caller's action); the edge frame stays persisted for the
    * caller to release, same contract as [[bfsHops]].
    * Output: (idCol, cost). */
  def boundedSssp(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedIdCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.select(col(seedIdCol).as("id")).distinct()
      .withColumn("cost", lit(0L)).truncate(true)
    var i = 0
    while (i < rounds) {
      val relaxed = dist.withColumnRenamed("id", "src")
        .join(e, "src")
        .select(col("dst").as("id"), (col("cost") + col("w")).as("cost"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("id")).agg(min(col("cost")).as("cost"))
        .truncate(false)
      i += 1
    }
    dist.select(col("id").as(srcCol), col("cost"))
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in
    * a hyperlinked environment"): over a DIRECTED graph, authority score
    * = Σ hub scores pointing at you, hub score = Σ authority scores you
    * point at — mutual reinforcement that PageRank's single random walk
    * does not express, and the natural scorer for bipartite buyer→seller
    * graphs (good buyers certify good sellers and vice versa).
    *
    * Integer discipline (the q77 family rule): both vectors renormalize
    * per round to max = 10⁶ by truncating division (max-norm, no sqrt),
    * so a fixed iteration count is bit-reproducible and the oracle
    * unrolls every round. Raw sums stay ≤ degree·10⁶ — LONG-safe before
    * each renormalization at any realistic degree.
    *
    * Shape: per round TWO broadcast joins of the pre-partitioned edge
    * copies with the node-grain score frame (counted broadcast; falls
    * back to shuffle joins past 3M nodes) + aggregations that reuse the
    * copies' cached clustering + two
    * one-row max frames broadcast back. Unlike pageRankE9 (whose
    * score frame has ONE downstream consumer per round), `renorm` reads
    * its input TWICE (max agg + crossJoin) — so without truncation the
    * plan DOUBLES per round; every round therefore ends in an eager
    * localCheckpoint on the tiny (id, v) frames, same rule as
    * [[labelPropagationRounds]]'s two-consumer recurrence. Output:
    * (role ∈ hub|auth, id, score_e6). */
  def hitsE6(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1)
    // Eager per-round localCheckpoint is LOAD-BEARING here: each round's
    // max-renorm embeds a scalar broadcast subquery, and a lazy
    // 2·iterations-round nested plan of those overflows the planner's
    // tree recursion under AQE (measured: StackOverflow in plan-string
    // generation at 4 rounds). Truncating to a LogicalRDD leaf per round
    // keeps the plan depth constant; rounds are few by contract.
    val spark = edges.sparkSession
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val par = spark.sparkContext.defaultParallelism
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull).distinct()
    // TWO persisted edge copies, pre-partitioned on each round's
    // AGGREGATION key (r16, guide §2.4 pay-the-shuffle-once): with the
    // node-grain score frame broadcast into the join (counted below),
    // a round's edge rows flow from cache through the broadcast join
    // into the final sum reusing the cached clustering — measured 2.6 s
    // vs 4.8 s (probe, 4 rounds warm) against the single-copy broadcast
    // variant, which itself beat the pre-r16 per-round sort-merge shape.
    // Explicit partition count: AQE would coalesce a bare keyed
    // repartition of a cache-sized frame to 1-2 partitions and
    // serialize every downstream scan (the UpsertWriteProbe finding,
    // `git show d6f4c32:src/main/scala/graft/tools/UpsertWriteProbe.scala`).
    val eByDst = e0.repartition(par, col("dst")).persist(mem)
    val eBySrc = eByDst.repartition(par, col("src")).persist(mem)
    var h = eBySrc.select(col("src").as("id")).distinct()
      .withColumn("v", lit(1000000L))
    var a = eByDst.select(col("dst").as("id")).distinct()
      .withColumn("v", lit(0L))
    // counted broadcast decision (the Preference.maybeBroadcast rule):
    // score frames are node-grain; broadcast only small node sides
    val nNodes = math.max(h.count(), a.count())
    def mb(df: DataFrame): DataFrame =
      if (nNodes <= 3000000L) broadcast(df) else df
    def renorm(raw: DataFrame): DataFrame = {
      // Checkpoint the round's join+aggregate BEFORE the max broadcast
      // (r15 optimization round): the old order ran the subtree twice —
      // once under the broadcast build, once under the checkpoint. The
      // lazy leaf+crossJoin residue keeps plan depth constant, so the
      // StackOverflow guard above still holds.
      // Lazy since r16: the max job computes every partition and
      // materializes the blocks; the separate eager-checkpoint job per
      // round was scheduler floor (verdict item 7).
      val rawCp = raw.truncate(false)
      val m = rawCp.agg(max(col("v")).as("m"))
      rawCp.crossJoin(broadcast(m))
        .select(col("id"), expr("v * 1000000 div m").as("v"))
    }
    for (_ <- 1 to iterations) {
      a = renorm(eByDst.join(mb(h.withColumnRenamed("id", "src")), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("v")).as("v")))
      h = renorm(eBySrc.join(mb(a.withColumnRenamed("id", "dst")), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("v")).as("v")))
    }
    // edge copies stay persisted for the caller to release (the
    // labelPropagation clearCache contract): the LAST round is lazy and
    // materializes only under the caller's action — an in-function
    // unpersist would make that round rebuild the edges from source
    h.select(lit("hub").as("role"), col("id"), col("v").as("score_e6"))
      .unionByName(a.select(lit("auth").as("role"), col("id"),
        col("v").as("score_e6")))
  }

  /** Two-hop neighborhood aggregation — the GraphSAGE/GCN message-
    * passing layer (Hamilton et al. 2017) as exact integer sufficient
    * statistics: per node, layer 1 collects (deg, Σ neighbor feature)
    * and layer 2 RE-AGGREGATES those summaries over the same edges, so
    * (n2, sum2) cover the full 2-hop frontier WITHOUT enumerating
    * 2-hop paths per node pair — the associativity trick that makes
    * k-hop features linear in |E| per layer instead of |paths|.
    * Mean/normalized variants divide downstream; sums stay mergeable.
    *
    * Shape: per layer ONE shuffle join of the (persisted, deduped) edge
    * list with the previous layer's node frame + a map-side-partial
    * aggregation — the pageRankE9 round shape, depth 2. Output:
    * (id, deg, sum1, n2, sum2); nodes whose neighbors carry no layer-1
    * row emit zeros. */
  /** Link prediction over an undirected simple graph: every non-adjacent
    * pair at distance 2, scored by common-neighbor count and the
    * resource-allocation index (Zhou, Lü & Zhang 2009, "Predicting
    * missing links via local information") — RA = Σ_{w∈Γ(a)∩Γ(b)}
    * 1/deg(w), here in e12 fixed point with a truncating per-term
    * divide (1e12 div deg(w)) so scores are integers and hash-gate
    * cross-engine. RA needs no transcendental log (unlike Adamic–Adar)
    * and outperforms it on dense co-occurrence graphs.
    *
    * Scale shape: wedges enumerate by joining the symmetrized adjacency
    * with itself on the CENTER node — Σ deg(w)² rows, the same budget as
    * the triangle pass — and the per-term 1e12 div deg(w) rides the
    * wedge row, so scoring is ONE hash aggregate with map-side partials.
    * Existing edges drop via one left-anti join against the canonical
    * (a<b) edge set. Hub gating is the caller's job (threshold the input
    * edges, as the gates do): a stopword-grade hub in a 100 TB
    * co-occurrence graph must be cut before ANY quadratic neighborhood
    * op, not re-discovered inside each one. */
  def linkPredictionRA(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = e.select(col("a").as("w"), col("b").as("n"))
      .union(e.select(col("b").as("w"), col("a").as("n")))
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("d"))
    val adjd = adj.join(deg, "w")
    val wedges = adjd.select(col("w"), col("n").as("x"), col("d"))
      .join(adjd.select(col("w"), col("n").as("y")), Seq("w"))
      .where(col("x") < col("y"))
    val scored = wedges.groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("CAST(1000000000000 AS BIGINT) div d")).as("ra_e12"))
    scored.join(e, Seq("a", "b"), "left_anti")
  }

  def twoHopAggregate(edges: DataFrame, srcCol: String, dstCol: String,
      feats: DataFrame, idCol: String, featCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val f = feats.select(col(idCol).as("id"), col(featCol).cast("long").as("x"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val h1 = e.join(f.withColumnRenamed("id", "dst"), "dst")
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"), sum(d(col("x"))).as("sum1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val h2 = e.join(h1.withColumnRenamed("id", "dst"), "dst")
      .groupBy(col("src").as("id"))
      .agg(sum(col("deg")).as("n2"), sum(col("sum1")).as("sum2"))
    h1.join(h2, Seq("id"), "left")
      .select(col("id"), col("deg"), col("sum1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("sum2"), lit(0).cast("decimal(38,0)")).as("sum2"))
  }

  /** Bounded-horizon betweenness centrality (Brandes 2001) from a seed
    * source set — the "who brokers the flow" centrality the family's
    * other members (degree, PageRank authority, HITS, k-core) don't
    * measure. Exact Brandes is Θ(|V|·|E|); the two standard production
    * truncations compose here and are both EXPLICIT semantics, not
    * approximations smuggled in:
    *
    *  - SOURCE PIVOTS (Brandes–Pich 2007): dependencies accumulate from
    *    `seeds` only — centrality "as seen from" the pivot set, the
    *    estimator production graph stacks ship;
    *  - DEPTH HORIZON `maxDepth`: shortest paths longer than the horizon
    *    carry no dependency (q180/q181's bounded-walk discipline —
    *    influence beyond a few hops is noise in behavioral graphs).
    *
    * Forward: level-synchronous multi-source BFS carrying EXACT integer
    * path counts σ(s,v) — per level one join of the frontier with the
    * edge list + one (s,v) partial-sum aggregate + one anti-join against
    * the reached set. Backward (the Brandes accumulation): for v at
    * depth d with successor w at d+1,
    *   δ(s,v) = Σ_w σ_v · (1e6 + δ(s,w)) div σ_w
    * — the dependency fraction integer-scaled to e6 BEFORE the sum
    * (truncating div, all-positive operands), so the result is
    * bit-stable and a SQL oracle replays it with `//`. bc_e6(v) =
    * Σ_s δ(s,v). e6 (not e9) keeps σ·(1e6+δ) summed over hub fan-in
    * far from Long overflow on dense graphs.
    *
    * Output: (node, bc_e6) for every non-source node within the horizon
    * of some seed (sources score their OWN paths' interior nodes;
    * endpoint convention excludes s and the path's far end, per
    * Brandes). All frames are bounded by |seeds|·|V(horizon)| — the
    * inherent cost of exact-per-pivot betweenness; scale the seed count,
    * not the algorithm. */
  def betweennessE6(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedIdCol: String, maxDepth: Int): DataFrame = {
    require(maxDepth >= 2 && maxDepth <= 8)
    // Materialization: eager localCheckpoint per level — constant plan
    // depth regardless of maxDepth (a fully lazy chain at depth 8 risks
    // the same planner-recursion blowup measured in hitsE6). The counts
    // below are near-free on the checkpointed RDDs and buy two things:
    // early stop once the BFS exhausts (an empty level makes every
    // deeper join a no-op — equivalent output, since depths past the
    // last non-empty level carry no paths), and the backward join-order
    // choice (CBO is off; Catalyst won't reorder a 3-way join by
    // cardinality on its own).
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // forward: levels(d) = (s, v, sigma) at exact distance d
    val l0 = seeds.select(col(seedIdCol).as("s")).distinct()
      .select(col("s"), col("s").as("v"), lit(1L).as("sigma"))
      .truncate(true)
    var levels = Vector(l0)
    var sizes = Vector(l0.count())
    var reachedTotal = sizes.head
    // Complement-side expansion stats (computed ONCE, lazily, the first
    // time a level looks saturated): candidate targets are nodes with an
    // incoming edge, so the unreached estimate is
    // |seeds|·|distinct dst| − |reached|.
    var nDst = -1L
    var d = 1
    while (d <= maxDepth && sizes.last > 0) {
      // visited set = union of the (checkpointed) earlier levels — no
      // separately-materialized cumulative frame to maintain
      val reached = levels.map(_.select(col("s"), col("v")))
        .reduce(_ unionByName _)
      // COUNTED expansion-side choice (r16, the q92 decide-with-small-
      // rows rule): near saturation the standard frontier⋈edges join
      // materializes Σ outdeg(frontier) rows only for the anti-join to
      // keep a handful — q332 measured 17.5M joined rows for 45
      // surviving nodes at depth 3. When the unreached-candidate bound
      // (|seeds|·|dst nodes| − |reached|) is under a quarter of the
      // frontier, expand FROM THE COMPLEMENT instead: enumerate the
      // unreached (s, x) pairs and pull their incoming edges, which
      // reproduces the identical σ sums (σ_d(s,x) = Σ σ_{d−1}(s,v) over
      // in-edges v→x with (s,v) at depth d−1) over Σ indeg(unreached)
      // rows. Both sides compute the same level frame.
      val frontierCost = sizes.last
      lazy val unreachedEst = {
        if (nDst < 0L) nDst = e.select(col("dst")).distinct().count()
        sizes.head * nDst - reachedTotal
      }
      val next = (if (sizes.last > 4096 && unreachedEst * 4 < frontierCost) {
        val dstNodes = e.select(col("dst").as("v")).distinct()
        val unreached = levels.head.select(col("s")).crossJoin(dstNodes)
          .join(reached, Seq("s", "v"), "left_anti")
        unreached
          .join(e.select(col("dst").as("v"), col("src")), "v")
          .join(levels.last.select(col("s"), col("v").as("src"),
            col("sigma")), Seq("s", "src"))
          .groupBy(col("s"), col("v"))
          .agg(sum(col("sigma")).as("sigma"))
      } else {
        levels.last
          .select(col("s"), col("v").as("src"), col("sigma"))
          .join(e, "src")
          .groupBy(col("s"), col("dst").as("v"))
          .agg(sum(col("sigma")).as("sigma"))
          .join(reached, Seq("s", "v"), "left_anti")
      }).truncate(true)
      levels :+= next
      sizes :+= next.count()
      reachedTotal += sizes.last
      d += 1
    }
    val deepest = levels.length - 1
    // backward: the deepest level contributes nothing (horizon
    // truncation when deepest == maxDepth; no successors otherwise)
    var delta = levels(deepest)
      .select(col("s"), col("v"), lit(0L).as("delta"))
    var acc: Option[DataFrame] = None
    var dd = deepest - 1
    while (dd >= 1) {
      // first backward round: delta IS levels(deepest) with δ=0, so the
      // succ join of the deepest level against itself is the identity —
      // read the frame directly (r16; the join was |deepest|² work)
      val succ = (if (dd == deepest - 1)
        levels(deepest).withColumn("delta", lit(0L))
      else levels(dd + 1).join(delta, Seq("s", "v")))
        .select(col("s"), col("v").as("dst"),
          col("sigma").as("ws"), col("delta").as("wd"))
      // Same 3-way join either way; expand e through the SMALLER side
      // first. On a saturated horizon the deepest level can be a few
      // dozen rows while the level below holds |seeds|·|V| — expanding
      // the big side first materializes Σ deg(v) over the big frame
      // (measured 17.5M intermediate rows vs 4.4k at sf0.1).
      val threeWay =
        if (sizes(dd + 1) <= sizes(dd))
          succ.join(e, "dst")
            .select(col("s"), col("src").as("v"), col("ws"), col("wd"))
            .join(levels(dd), Seq("s", "v"))
        else
          levels(dd)
            .join(e, col("v") === col("src"))
            .join(succ, Seq("s", "dst"))
      val contrib = threeWay
        .groupBy(col("s"), col("v"))
        .agg(sum(expr("sigma * (1000000 + wd) div ws")).as("delta"))
      delta = levels(dd).select(col("s"), col("v"))
        .join(contrib, Seq("s", "v"), "left")
        .select(col("s"), col("v"),
          coalesce(col("delta"), lit(0L)).as("delta"))
        .truncate(true)
      acc = Some(acc.map(_.unionByName(delta)).getOrElse(delta))
      dd -= 1
    }
    e.unpersist()
    // acc is None only when the BFS died at depth 1 (no interior nodes
    // anywhere) — the result is then correctly empty
    acc.getOrElse(delta.where(lit(false)))
      .groupBy(col("v").as("node"))
      .agg(sum(col("delta")).as("bc_e6"))
  }

  /** Connected components by ALTERNATING large-star / small-star rounds
    * (Kiveris–Lattanzi–Mirrokni–Rastogi–Vassilvitskii 2014, "Connected
    * Components in MapReduce and Beyond" §3) — the scale path when
    * component DIAMETER is the enemy: per-hop label propagation
    * ([[graft.operators.Dedup.connectedComponents]], even with path
    * halving) pays rounds proportional to how far the minimum must
    * travel, while the star operations contract every component to a
    * star in O(log² n) rounds regardless of diameter (lazy-chain
    * graphs: a 1M-node path converges in ~40 star rounds vs ~20 halved
    * label hops carrying 1M-row frontiers each).
    *
    *  - large-star(u): every neighbor v > u re-points to
    *    m = min(Γ(u) ∪ {u});
    *  - small-star(u): every neighbor v < u (canonical orientation
    *    keeps exactly these) plus u re-point to m = min(Γ₋(u) ∪ {u}).
    *
    * Both are one groupBy(min) + one equi-join on the SAME key — partial
    * aggregates, no adjacency-list row (the collect-free property that
    * survives power-law hubs: a 100M-degree node never materializes its
    * neighbor list in one task). Edges keep the u > v orientation
    * throughout, each round `localCheckpoint`s (the convergence check
    * forces an action anyway), and convergence = edge-set fixpoint
    * (count + order-free hash-sum, exact). At the fixpoint the graph is
    * a union of stars whose centers are the component minima.
    *
    * Output: (node, component = min reachable id). Nodes isolated in
    * `pairs` (only self-pairs) don't appear — consumers left-join and
    * default, exactly as with [[Dedup.connectedComponents]].
    */
  def alternatingComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 40, failOnMaxIter: Boolean = true): DataFrame = {
    var edges = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .where(col("x") =!= col("y") && col("x").isNotNull && col("y").isNotNull)
      .select(greatest(col("x"), col("y")).as("u"),
        least(col("x"), col("y")).as("v"))
      .distinct()
      .truncate()

    def sig(e: DataFrame): (Long, Long) = {
      // hash bounded to < 1e9 before the sum: ANSI-safe for < 9e9 edges
      val r = e.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(col("u"), col("v")),
          lit(1000000007L))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var last = sig(edges)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      // large-star: min over the FULL neighborhood of u (both ends group)
      val adj = edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = adj.where(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
      // small-star: canonical orientation already groups u with exactly
      // its smaller neighbors; m < u always, so (u, m) needs no reorient
      val ms = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(ms, Seq("u"))
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(ms.select(col("u"), col("m").as("v")))
        .distinct()
        .truncate()
      val s = sig(small)
      edges = small
      converged = s == last
      last = s
      it += 1
    }
    if (!converged) {
      val msg = s"alternatingComponents hit maxIter=$maxIter before the " +
        "star fixpoint; raise maxIter"
      if (failOnMaxIter) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    // fixpoint stars: u → center v; centers label themselves
    edges.select(col("u").as("node"), col("v").as("component"))
      .unionByName(edges.select(col("v").as("node"), col("v").as("component")))
      .distinct()
  }

  /** Rich-club coefficient (Zhou & Mondragón 2004; Colizza et al. 2006
    * for the normalization discussion — we report the RAW φ, the
    * normalization being a null-model choice): for each degree
    * threshold k, restrict the graph to nodes with degree > k and
    * measure how densely THEY interconnect,
    *
    *   φ(k)·1e6 = 2·E₍₎·1e6 div (N₍₎·(N₍₎−1))
    *
    * — the "do the hubs form a club" summary that complements
    * assortativity (q203): assortativity is a correlation over ALL
    * edges, φ(k) is the density profile of the core.
    *
    * Input: UNIQUE UNDIRECTED edges (src < dst, already thresholded —
    * the caller's q85 convention). Degrees are computed within this
    * graph. NULL φ when fewer than 2 qualifying nodes.
    *
    * Exactness: 2·E·1e6 and N·(N−1) widen to DECIMAL(38,0); the
    * division is the truncating `div`.
    *
    * Scale shape: one degree census (hash aggregate over both
    * endpoints), two joins to tag each edge with endpoint degrees
    * (node-keyed shuffles — broadcast under AQE when the census is
    * small), then ONE pass of |ks| conditional sums over edges and one
    * over the degree census; the k-profile never re-scans the graph
    * per threshold. */
  /** Pivot-sampled HARMONIC closeness centrality (Marchiori & Latora
    * 2000 for the harmonic form; Eppstein & Wang 2004 for pivot
    * sampling): for each node, Σ over pivots of 1/d(pivot, node) —
    * the "how near the core is this node" readout that, unlike
    * classic closeness, stays defined under disconnection (unreached
    * pivots contribute 0 instead of ∞). Exact integers:
    * harmonic_e6 = Σ (1e6 div hops), hop distances from a LABELED
    * multi-source BFS ([[bfsHops]] extended with a pivot tag so the
    * per-pivot distances stay separate).
    *
    * Same horizon semantics as [[boundedSssp]]: contributions beyond
    * `maxHops` are treated as unreachable (documented truncation —
    * 1e6 div h < 1e6/maxHops is noise at the horizon anyway).
    *
    * Scale shape: per round ONE join of the (pivot, node) frontier
    * with the edge list + distinct + anti-join — frontier-sized, k·|V|
    * worst case, never |V|²; rounds end in LAZY localCheckpoints and
    * the edge frame stays persisted for the caller to release (the
    * [[bfsHops]] contract). Output:
    * (idCol named srcCol, n_pivots_reached, harmonic_e6). Nodes
    * reaching no pivot don't appear (they'd be all-zero rows of the
    * complement — the caller left-joins if absence matters). */
  def harmonicClosenessE6(edges: DataFrame, srcCol: String,
      dstCol: String, pivots: DataFrame, pivotIdCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32)
    val half = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val e = half.unionByName(half.select(col("dst").as("src"),
        col("src").as("dst"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dist = pivots.select(col(pivotIdCol).as("p")).distinct()
      .withColumn("id", col("p")).withColumn("hops", lit(0L))
      .truncate(true)
    var frontier = dist
    var i = 1
    while (i <= maxHops) {
      val next = frontier.select(col("p"), col("id").as("src"))
        .join(e, "src").select(col("p"), col("dst").as("id")).distinct()
        .join(dist, Seq("p", "id"), "left_anti")
        .withColumn("hops", lit(i.toLong))
        .truncate(false)
      dist = dist.unionByName(next).truncate(false)
      frontier = next
      i += 1
    }
    dist.where(col("hops") > 0L)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_pivots_reached"),
        sum(expr("1000000 div hops")).as("harmonic_e6"))
      .withColumnRenamed("id", srcCol)
  }

  /** Nominal-attribute assortativity coefficient (Newman 2003, "Mixing
    * patterns in networks", eq. 2): do edges prefer SAME-attribute
    * endpoints — the categorical twin of q203's degree assortativity,
    *
    *   r = (Σᵢ eᵢᵢ − Σᵢ aᵢbᵢ) / (1 − Σᵢ aᵢbᵢ)
    *
    * over the undirected graph symmetrized to M = 2|E| directed edges
    * (aᵢ = bᵢ by symmetry), cleared to exact integers:
    *
    *   r_e6 = (same·M − Σ rowᵢ²)·1e6 div (M² − Σ rowᵢ²)
    *
    * with `same` = directed edges joining equal attributes and rowᵢ =
    * directed edges leaving attribute i. Truncates toward zero (r is
    * negative for disassortative mixing). NULL when the denominator is
    * 0 (all edges inside one attribute — r is undefined, not 1).
    *
    * Scale shape: two node-keyed joins to tag endpoints, one edge
    * aggregate, one attribute-census aggregate (squares in
    * DECIMAL(38,0)). Output one row: (m_directed, same_attr,
    * sum_row2, r_e6). */
  /** Moran's I spatial/graph autocorrelation (Moran 1950) for an
    * integer node VALUE over an unweighted neighbor graph — "do
    * connected nodes carry similar values", the numeric companion to
    * [[attributeAssortativityE6]]'s categorical mixing:
    *
    *   I = (n · Σ_{ij∈E} zᵢzⱼ) / (M · Σᵢ zᵢ²)
    *
    * with centered values. Centering divides nothing: z′ᵢ = n·xᵢ − S
    * is n·(xᵢ − x̄), and the n² factor cancels in the ratio, so every
    * term stays an exact integer (DECIMAL(38,0) quadratics). The
    * cross-product sum runs over the symmetrized M = 2|E| directed
    * edges; i_e6 truncates toward zero (negative I = dispersal). The
    * null expectation −1/(n−1) rides along for the readout.
    *
    * Nodes are the graph's nodes; `values` must cover them (inner
    * join — missing values drop the node and its edges, loudly
    * visible in n/M).
    *
    * Scale shape: one degree-free node census (distinct endpoints ∪
    * values join), one broadcast of the two global sums, one edge
    * pass for the cross term, one node pass for Σz². Output one row:
    * (n_nodes, m_directed, cross_zz, sum_z2, moran_i_e6,
    * e_null_e6). */
  def moransIE6(edges: DataFrame, src: String, dst: String,
      values: DataFrame, nodeCol: String, valueCol: String): DataFrame = {
    val vals = values.select(col(nodeCol).as("__n"),
      col(valueCol).cast("long").as("__x"))
    val half = edges.select(col(src).as("u"), col(dst).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
    val nodes = half.select(col("u").as("__n"))
      .unionByName(half.select(col("v").as("__n"))).distinct()
      .join(vals, Seq("__n"))
      .truncate(true) // stats + z census + edge tag read it
    val stats = nodes.agg(count(lit(1)).as("n"), sum(col("__x")).as("s"))
    val z = nodes.crossJoin(broadcast(stats))
      .select(col("__n"),
        expr("CAST(n AS DECIMAL(38,0)) * __x - s").as("z"),
        col("n"))
      .truncate(true)
    val ssq = z.agg(max(col("n")).as("n"),
      coalesce(sum(expr("z * z")), expr("CAST(0 AS DECIMAL(38,0))"))
        .as("sum_z2"))
    val dir = half.unionByName(
      half.select(col("v").as("u"), col("u").as("v")))
    val cross = dir
      .join(z.select(col("__n").as("u"), col("z").as("zu")), "u")
      .join(z.select(col("__n").as("v"), col("z").as("zv")), "v")
      .agg(count(lit(1)).as("m_directed"),
        coalesce(sum(expr("zu * zv")), expr("CAST(0 AS DECIMAL(38,0))"))
          .as("cross_zz"))
    ssq.crossJoin(broadcast(cross))
      .select(col("n").as("n_nodes"), col("m_directed"),
        col("cross_zz"), col("sum_z2"),
        when(expr("m_directed * sum_z2") > 0L, expr(
          """CASE WHEN cross_zz >= 0
            | THEN CAST((CAST(n AS DECIMAL(38,0)) * cross_zz * 1000000
            |  - pmod(CAST(n AS DECIMAL(38,0)) * cross_zz * 1000000,
            |     m_directed * sum_z2))
            |  / (m_directed * sum_z2) AS BIGINT)
            | ELSE -CAST((-(CAST(n AS DECIMAL(38,0)) * cross_zz
            |   * 1000000)
            |  - pmod(-(CAST(n AS DECIMAL(38,0)) * cross_zz * 1000000),
            |     m_directed * sum_z2))
            |  / (m_directed * sum_z2) AS BIGINT)
            |END""".stripMargin)).as("moran_i_e6"),
        when(col("n") > 1L, expr("-(1000000 div (n - 1))"))
          .as("e_null_e6"))
  }

  def attributeAssortativityE6(edges: DataFrame, src: String,
      dst: String, attrs: DataFrame, nodeCol: String,
      attrCol: String): DataFrame = {
    val a = attrs.select(col(nodeCol).as("__n"), col(attrCol).as("__a"))
    val half = edges.select(col(src).as("u"), col(dst).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
    val dir = half.unionByName(
      half.select(col("v").as("u"), col("u").as("v")))
    val tagged = dir
      .join(a.select(col("__n").as("u"), col("__a").as("au")), "u")
      .join(a.select(col("__n").as("v"), col("__a").as("av")), "v")
      .truncate(true) // edge agg + row census both read it
    val eAgg = tagged.agg(count(lit(1)).as("m_directed"),
      sum(when(col("au") === col("av"), 1L).otherwise(0L))
        .as("same_attr"))
    val rows = tagged.groupBy(col("au"))
      .agg(count(lit(1)).as("row"))
      .agg(coalesce(sum(expr("CAST(row AS DECIMAL(38,0)) * row")),
        expr("CAST(0 AS DECIMAL(38,0))")).as("sum_row2"))
    eAgg.crossJoin(broadcast(rows))
      .select(col("m_directed"), col("same_attr"), col("sum_row2"),
        when(expr(
          "CAST(m_directed AS DECIMAL(38,0)) * m_directed - sum_row2")
            > 0L, expr(
          """CAST((CAST(same_attr AS DECIMAL(38,0)) * m_directed
            | - sum_row2) * 1000000
            |div (CAST(m_directed AS DECIMAL(38,0)) * m_directed
            | - sum_row2) AS BIGINT)""".stripMargin)).as("r_e6"))
  }

  def richClubE6(edges: DataFrame, src: String, dst: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.size <= 64,
      s"Graph.richClubE6: need 1..64 thresholds, got ${ks.size}")
    val e = edges.select(col(src).as("a"), col(dst).as("b"))
    val deg = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val nAggs = ks.map(k =>
      sum(when(col("d") > k, 1L).otherwise(0L)).as(s"n$k"))
    val nodeCounts = deg.agg(nAggs.head, nAggs.tail: _*)
    val ed = e.join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
    val eAggs = ks.map(k =>
      sum(when(col("da") > k && col("db") > k, 1L).otherwise(0L))
        .as(s"e$k"))
    val edgeCounts = ed.agg(eAggs.head, eAggs.tail: _*)
    val stackExpr = s"stack(${ks.size}, " +
      ks.map(k => s"${k}L, n$k, e$k").mkString(", ") +
      ") AS (k, n_nodes, n_edges)"
    nodeCounts.crossJoin(edgeCounts)
      .select(expr(stackExpr))
      .withColumn("phi_e6", when(col("n_nodes") >= 2, expr(
        """CAST(2 * CAST(n_edges AS DECIMAL(38,0)) * 1000000
          |div (CAST(n_nodes AS DECIMAL(38,0)) * (n_nodes - 1))
          |AS BIGINT)""".stripMargin)))
  }

  /** Pivot-set eccentricity and the standard diameter LOWER bound
    * (Magnien, Latapy, Habib 2009 — BFS from a pivot set brackets the
    * diameter): exact eccentricity of the `nPivots` smallest node ids,
    * all pivots advancing through ONE level-synchronous BFS loop keyed
    * (pivot, node) — per round a single frontier⋈edges join + anti-join
    * against the visited frame (the [[bfsHops]] shape, pivot-tagged),
    * with an early exit when every pivot's frontier drains. max(ecc)
    * over the output rows IS the diameter lower bound; eccentricities
    * are within each pivot's component, capped at `maxHops` (hops are
    * exact integers — no arithmetic discipline needed).
    *
    * The edge list is SYMMETRIZED internally (union of reversed edges
    * before dedup) — eccentricity is an undirected-graph notion, and
    * this also makes dst-only nodes pivot-eligible; callers may pass
    * either orientation of each edge (an already-symmetric input is
    * unchanged by the union+distinct).
    *
    * Scale: per-round work is |frontier|·deg, ≤ nPivots × the single
    * BFS cost; rounds ≤ the true eccentricity (early exit), never
    * maxHops on small-world graphs. Visited state is (pivot, node) —
    * nPivots × |V|, the documented budget. */
  def eccentricityPivots(edges: DataFrame, srcCol: String, dstCol: String,
      nPivots: Int, maxHops: Int): DataFrame = {
    require(nPivots >= 1 && nPivots <= 64, s"nPivots: $nPivots")
    require(maxHops >= 1 && maxHops <= 64, s"maxHops: $maxHops")
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = raw
      .unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pivots = e.select(col("src").as("p")).distinct()
      .orderBy(col("p")).limit(nPivots)
    var dist = pivots.select(col("p"), col("p").as("id"))
      .withColumn("hops", lit(0L)).truncate(true)
    var frontier = dist
    var i = 1
    var live = true
    while (i <= maxHops && live) {
      val next = frontier.select(col("p"), col("id").as("src"))
        .join(e, "src").select(col("p"), col("dst").as("id")).distinct()
        .join(dist, Seq("p", "id"), "left_anti")
        .withColumn("hops", lit(i.toLong))
        .truncate(true)
      live = !next.isEmpty
      if (live) dist = dist.unionByName(next).truncate(true)
      frontier = next
      i += 1
    }
    e.unpersist()
    dist.groupBy(col("p").as("pivot"))
      .agg(max(col("hops")).as("ecc"), count(lit(1)).as("n_reached"))
  }

  /** Global and mean-local clustering coefficients (Watts–Strogatz
    * local CC; Newman transitivity 3T/W) over an undirected simple
    * graph: per-node triangle corners from [[triangleCounts]]'s
    * degree-oriented wedge plan, degrees and wedge counts from the
    * canonical edge census, then
    *   transitivity_e6  = Σ_v t_v · 1e6 div W,  W = Σ_v C(d_v, 2)
    *   mean_local_cc_e6 = (Σ_{d_v ≥ 2} (t_v·1e6 div C(d_v,2))) div n₂
    * — per-node truncation BEFORE the mean (pinned). One output row:
    * (n_nodes, n_edges, wedges, triangle_corners, transitivity_e6,
    * n_cc_nodes, mean_local_cc_e6).
    *
    * Shape: the oriented wedge join is the only super-linear step and
    * inherits triangleCounts' √m out-degree cap; everything else is
    * degree-census arithmetic. */
  def clusteringCoefficientE6(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val tri = triangleCounts(e, "a", "b")
      .select(col("a").as("id"), col("triangles").as("t"))
    val nEdges = broadcast(e.agg(count(lit(1)).as("n_edges")))
    val out = deg.join(tri, Seq("id"))
      .select(col("d"), col("t"),
        expr("(d * (d - 1)) div 2").as("w"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("w")).as("wedges"),
        sum(col("t")).as("triangle_corners"),
        sum(when(col("d") >= 2, 1L).otherwise(0L)).as("n_cc_nodes"),
        sum(when(col("d") >= 2,
          expr("CAST(t AS DECIMAL(38,0)) * 1000000 div w"))
          .otherwise(lit(0L))).as("__lcc"))
    out.crossJoin(nEdges)
      .select(col("n_nodes"), col("n_edges"), col("wedges"),
        col("triangle_corners"),
        when(col("wedges") > 0L, expr(
          """CAST(CAST(triangle_corners AS DECIMAL(38,0)) * 1000000
            | div wedges AS BIGINT)""".stripMargin))
          .as("transitivity_e6"),
        col("n_cc_nodes"),
        when(col("n_cc_nodes") > 0L,
          expr("CAST(__lcc div n_cc_nodes AS BIGINT)"))
          .as("mean_local_cc_e6"))
  }
}

