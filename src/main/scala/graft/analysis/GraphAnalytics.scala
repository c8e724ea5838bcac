package graft.analysis

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the materialized knowledge graph — the query
  * surface a user of the reference runs AFTER construction (the reference
  * hands its graph to Neo4j and runs Cypher over it; analysis_queries in
  * the reference repo's README and test_queries.py exercise degree-style
  * and neighborhood-style reads). Here the same analyses run directly on
  * the canonical triple Dataset, Spark-first.
  *
  * All operators take the canonical `(subj, pred, obj)` triple set and are
  * expressed as declarative plans:
  *
  *  - `degrees`: one union + one hash aggregate (map-side combined) — no
  *    join. Scales as a single shuffle on node key.
  *  - `coDiscussion`: the persoon–persoon projection of DISCUSSES_* edges.
  *    One hash aggregate on the zaak key builds each zaak's sorted person
  *    set, whose oriented pairs are enumerated inside the row — no
  *    self-join. A set holds distinct persons, so it is bounded by the
  *    persoon dimension, not the corpus; a hot zaak still fans out
  *    quadratically and takes a cap on the set size (`maxZaakPersons`).
  *  - `twoHopReach` / `triangles`: neighborhood expansion over the
  *    dimension-bounded projection. Triangle enumeration uses the oriented
  *    (p1 < p2) edge list, so each triangle is emitted exactly once and
  *    the join fan-out is bounded by the oriented degree (the standard
  *    distributed-triangle trick: high-degree nodes orient most edges
  *    outward-by-id, halving the worst-case join).
  *  - `pageRank`: fixed-point INTEGER PageRank (scale 1e12, damping
  *    85/100, uniform init) so the result is bit-identical across engines
  *    — float PageRank cannot sit inside a hash-equality gate. Dangling
  *    mass is dropped by default (the common SQL variant; ranks are then
  *    a centrality ORDER, not a probability distribution);
  *    `preserveDanglingMass = true` redistributes it uniformly each
  *    iteration (the reference-grade read — rank sum stays ≈ S up to
  *    integer-truncation drift, asserted in GraphAnalyticsSpec) at the
  *    cost of one scalar aggregate per round over a sink set computed
  *    once. The edge rows carry `out_deg` and are partitioned by src and
  *    checkpointed once; a round is one join of edges to ranks plus one
  *    hash aggregate over the shares UNION ALL a zero row per node, and
  *    is truncated (graft.util.Ckpt) so Catalyst never re-optimizes a
  *    growing tree (same shape as canonicalize.ConnectedComponents).
  *    Spark jobs on a 67,650-edge graph (local[4], AQE): pageRank(10) 27,
  *    preserving 58, twoHopReach 7, triangles 7 — 67 / 107 / 11 / 11
  *    with a per-round degree join + node left join and a self-join.
  */
object GraphAnalytics {

  /** Per-node out/in/total degree over the DISTINCT (subj, obj) edge set.
    * Multi-predicate parallel edges count once — degree is neighbors-ish,
    * matching the oracle's `gedges` dedup.
    */
  def degrees(triples: DataFrame): DataFrame = {
    val edges = triples.select("subj", "obj").distinct()
    // one scan of the deduped edge set: a union of two projections would
    // repeat the dedup aggregate (and its exchange) in both branches —
    // explode(array(...)) emits both directions from a single pass
    edges
      .select(explode(array(
        struct(col("subj").as("node"), lit(1L).as("is_out"), lit(0L).as("is_in")),
        struct(col("obj").as("node"), lit(0L).as("is_out"), lit(1L).as("is_in"))
      )).as("e"))
      .select("e.*")
      .groupBy("node")
      .agg(sum("is_out").as("out_deg"), sum("is_in").as("in_deg"))
      .withColumn("degree", col("out_deg") + col("in_deg"))
  }

  /** Cap on a zaak's co-discussion person set: a zaak discussed by f
    * persons fans out to f·(f−1)/2 pairs, so one viral zaak at 100 TB
    * (f ~ 10^5 speakers) alone emits ~5·10^9 pairs from ONE row in ONE
    * task — the same quadratic hot-bucket failure as an uncapped LSH
    * band, and it takes the same guard (Dedup.capBuckets): keys above the
    * cap are DROPPED from the projection, and the drop is emitted as data
    * (an `Observation`), never silent. 1024 persons/zaak ≈ 524k pairs per
    * key — well inside one task — while real parliamentary zaken are
    * discussed by at most a few hundred persons, so the default never
    * engages on clean corpora (hash-verified: `kg_two_hop`/`kg_triangles`
    * match the uncapped DuckDB oracle at sf0.01).
    */
  val DefaultMaxZaakPersons: Int = 1024

  /** Persoon–persoon co-discussion projection: an oriented (p1 < p2) edge
    * for each pair of persons that DISCUSSES the same zaak entity.
    *
    * @param maxZaakPersons cap on a zaak's person set ([[DefaultMaxZaakPersons]])
    * @param droppedObs optional observation riding the per-zaak sets;
    *   reports `dropped_zaak_keys` (capped-away keys) and
    *   `dropped_zaak_rows` (person–zaak rows they carried)
    */
  def coDiscussion(triples: DataFrame,
      maxZaakPersons: Int = DefaultMaxZaakPersons,
      droppedObs: Option[Observation] = None): DataFrame = {
    val sets0 = triples
      .where(col("pred").isin("DISCUSSES_ZAAK", "DISCUSSES_DOSSIER"))
      .groupBy(col("obj").as("z"))
      .agg(array_sort(collect_set(col("subj"))).as("ps"))
    val f = size(col("ps"))
    // observed above the aggregate, below the cap filter: every key once
    val sets = droppedObs
      .map(o => sets0.observe(o,
        sum(when(f > maxZaakPersons, 1L).otherwise(0L)).as("dropped_zaak_keys"),
        sum(when(f > maxZaakPersons, f).otherwise(0L)).as("dropped_zaak_rows")))
      .getOrElse(sets0)
    // each person pairs with the ones after it in the sorted set
    sets.where(f <= maxZaakPersons)
      .select(posexplode(col("ps")).as(Seq("i", "p1")), col("ps"))
      .select(col("p1"),
        explode(slice(col("ps"), col("i") + 2, f - col("i") - 1)).as("p2"))
      .distinct()
  }

  /** Distinct persons reachable within ≤ 2 undirected co-discussion hops
    * (self excluded at hop 2; a 1-hop neighbor stays counted even when it
    * also appears at hop 2 — COUNT DISTINCT over the union).
    */
  def twoHopReach(triples: DataFrame): DataFrame = {
    val co = coDiscussion(triples)
    val undir = co.select(col("p1").as("u"), col("p2").as("v"))
      .unionByName(co.select(col("p2").as("u"), col("p1").as("v")))
    val oneHop = undir.select(col("u").as("node"), col("v").as("nbr"))
    val twoHop = undir.as("a").join(undir.as("b"), col("a.v") === col("b.u"))
      .where(col("b.v") =!= col("a.u"))
      .select(col("a.u").as("node"), col("b.v").as("nbr"))
    oneHop.unionByName(twoHop)
      .groupBy("node")
      .agg(countDistinct("nbr").as("reach2"))
  }

  /** Per-node triangle participation count in the co-discussion graph.
    * Oriented enumeration (a < b < c via the p1 < p2 edge list): each
    * triangle found once, then exploded to its three corners for the
    * per-node counts.
    */
  def triangles(triples: DataFrame): DataFrame = {
    val co = coDiscussion(triples)
    val tri = co.as("e1")
      .join(co.as("e2"), col("e2.p1") === col("e1.p2"))
      .join(co.as("e3"),
        col("e3.p1") === col("e1.p1") && col("e3.p2") === col("e2.p2"))
      .select(col("e1.p1").as("a"), col("e1.p2").as("b"), col("e2.p2").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Fixed-point integer PageRank, the exact arithmetic contract mirrored
    * by `graft.oracle.GraphSql.pageRankCtes`:
    *
    *   S      = 1e12 (rank scale)
    *   n      = |nodes|, base = (S·15/100)/n, r0 = S/n   (integer div)
    *   share  = (rank·85) div (100·out_deg)              (per out-edge)
    *   rank'  = base + Σ shares over in-edges            (missing → 0)
    *            [+ (Σ dangling rank · 85) div (100·n) when
    *             preserveDanglingMass — GraphSql.pageRankPreservedCtes]
    *
    * Every division is BIGINT truncation toward zero on non-negative
    * operands, so Spark `div` ≡ DuckDB `//` and the hash gate holds.
    */
  val PageRankScale: Long = 1000000000000L

  def pageRank(triples: DataFrame, iters: Int = 10,
      preserveDanglingMass: Boolean = false): DataFrame = {
    val S = PageRankScale
    // out_deg folded into the edge rows, partitioned by src, pinned once
    val edges = graft.util.Ckpt(triples.select("subj", "obj").distinct()
      .withColumn("out_deg", count(lit(1)).over(Window.partitionBy("subj"))))
    val nodes = graft.util.Ckpt(
      edges.select(col("subj").as("node"))
        .unionByName(edges.select(col("obj").as("node"))).distinct())
    val n = nodes.count()
    val base = (S * 15 / 100) / n
    // a zero share per node: nodes without in-edges still get rank = base
    val zeros = nodes.select(col("node"), lit(0L).as("share"))
    // dangling nodes (no out-edges)
    lazy val sinks = graft.util.Ckpt(
      nodes.join(edges.select(col("subj").as("node")), Seq("node"), "left_anti"))
    var ranks = nodes.select(col("node"), lit(S / n).as("rank_fp"))
    for (_ <- 1 to iters) {
      // dangling mass, redistributed as (dang·85) div (100·n) per node —
      // the truncation points of GraphSql.pageRankPreservedCtes
      val dangShare =
        if (!preserveDanglingMass) 0L
        else {
          val dang = ranks.join(sinks, Seq("node"), "left_semi")
            .agg(coalesce(sum("rank_fp"), lit(0L))).head().getLong(0)
          (dang * 85) / (100 * n)
        }
      // plan truncation per round — without it Catalyst re-optimizes a
      // tree that doubles per iteration (see ConnectedComponents)
      ranks = graft.util.Ckpt(rankRound(edges, zeros, ranks, base + dangShare))
    }
    ranks
  }

  /** One PageRank round: ranks join the `(subj, obj, out_deg)` edges, one
    * aggregate sums the shares plus the zero rows and adds `base`. */
  private[graft] def rankRound(edges: DataFrame, zeros: DataFrame, ranks: DataFrame,
      base: Long): DataFrame =
    edges.join(ranks, edges("subj") === ranks("node"))
      .select(col("obj").as("node"),
        expr("(rank_fp * 85) div (100 * out_deg)").as("share"))
      .unionByName(zeros)
      .groupBy("node")
      .agg((lit(base) + sum("share")).as("rank_fp"))
}
