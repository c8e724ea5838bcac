package graft

import scala.util.Random
import org.apache.spark.sql.Observation
import graft.analysis.GraphAnalytics

/** Hand-computed oracles for the post-construction graph analytics
  * (degrees, co-discussion projection, 2-hop reach, triangles, fixed-point
  * PageRank) on small graphs where every value is checkable by hand, plus
  * equivalence properties against plain-Scala references on seeded random
  * graphs.
  */
class GraphAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def triples(rows: (String, String, String)*) =
    rows.toDF("subj", "pred", "obj")

  test("degrees: dedups parallel predicates, counts in/out per node") {
    val t = triples(
      ("a", "P", "b"), ("a", "Q", "b"), // parallel edge counts once
      ("a", "P", "c"), ("c", "P", "b"))
    val got = GraphAnalytics.degrees(t).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      "a" -> ((2L, 0L, 2L)),
      "b" -> ((0L, 2L, 2L)),
      "c" -> ((1L, 1L, 2L))))
  }

  test("coDiscussion: oriented pairs per shared zaak, deduped across zaken") {
    val t = triples(
      ("persoon:P1", "DISCUSSES_ZAAK", "zaak:Z1"),
      ("persoon:P2", "DISCUSSES_ZAAK", "zaak:Z1"),
      ("persoon:P3", "DISCUSSES_DOSSIER", "zaak:Z1"),
      ("persoon:P1", "DISCUSSES_ZAAK", "zaak:Z2"),
      ("persoon:P2", "DISCUSSES_DOSSIER", "zaak:Z2"), // P1-P2 again via Z2
      ("persoon:P9", "SPOKE_IN", "conv:c1")) // non-DISCUSSES ignored
    val got = GraphAnalytics.coDiscussion(t).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("persoon:P1", "persoon:P2"),
      ("persoon:P1", "persoon:P3"),
      ("persoon:P2", "persoon:P3")))
  }

  test("coDiscussion: hot-zaak frequency cap drops the key, reported as data") {
    // zaak:HOT is discussed by 4 persons (> cap 3) — its C(4,2)=6 pairs
    // must NOT reach the self-join; zaak:OK (2 persons) stays
    val rows =
      (1 to 4).map(i => (s"persoon:H$i", "DISCUSSES_ZAAK", "zaak:HOT")) ++
        Seq(("persoon:A", "DISCUSSES_ZAAK", "zaak:OK"),
          ("persoon:B", "DISCUSSES_ZAAK", "zaak:OK"))
    val t = triples(rows: _*)
    val obs = new org.apache.spark.sql.Observation("codisc_cap")
    val got = GraphAnalytics
      .coDiscussion(t, maxZaakPersons = 3, droppedObs = Some(obs))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("persoon:A", "persoon:B")))
    assert(obs.get("dropped_zaak_keys") == 1L)
    assert(obs.get("dropped_zaak_rows") == 4L)
    // the default cap (1024) never engages on this corpus: all pairs emitted
    assert(GraphAnalytics.coDiscussion(t).count() == 6L + 1L)
  }

  test("twoHopReach: path graph P1-P2-P3 (via zaken) counts 1- and 2-hop") {
    // co-discussion edges: P1-P2 (Z1), P2-P3 (Z2)  => path graph
    val t = triples(
      ("persoon:P1", "DISCUSSES_ZAAK", "zaak:Z1"),
      ("persoon:P2", "DISCUSSES_ZAAK", "zaak:Z1"),
      ("persoon:P2", "DISCUSSES_ZAAK", "zaak:Z2"),
      ("persoon:P3", "DISCUSSES_ZAAK", "zaak:Z2"))
    val got = GraphAnalytics.twoHopReach(t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // P1 reaches P2 (1 hop) + P3 (2 hops); P2 reaches P1, P3; P3 symmetric
    assert(got == Map("persoon:P1" -> 2L, "persoon:P2" -> 2L, "persoon:P3" -> 2L))
  }

  test("triangles: K3 + pendant — corners count 1, pendant absent") {
    // Z1 shared by P1,P2,P3 (triangle); P4 only pairs with P3 via Z2
    val t = triples(
      ("persoon:P1", "DISCUSSES_ZAAK", "zaak:Z1"),
      ("persoon:P2", "DISCUSSES_ZAAK", "zaak:Z1"),
      ("persoon:P3", "DISCUSSES_ZAAK", "zaak:Z1"),
      ("persoon:P3", "DISCUSSES_ZAAK", "zaak:Z2"),
      ("persoon:P4", "DISCUSSES_ZAAK", "zaak:Z2"))
    val got = GraphAnalytics.triangles(t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "persoon:P1" -> 1L, "persoon:P2" -> 1L, "persoon:P3" -> 1L))
  }

  test("triangles: K4 has 4 triangles, each node in 3") {
    val t = triples((for {
      i <- 1 to 4; j <- 1 to 4 if i != j
    } yield (s"persoon:P$i", "DISCUSSES_ZAAK", "zaak:Z")): _*)
    val got = GraphAnalytics.triangles(t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.toSeq.sorted == Seq(3L, 3L, 3L, 3L))
    assert(got.values.sum == 12L) // 4 triangles x 3 corners
  }

  test("pageRank: two-node cycle stays uniform; hand-checked star values") {
    val s = GraphAnalytics.PageRankScale
    // a <-> b: perfectly symmetric, every iteration keeps rank = S/2 up to
    // the deterministic truncation: r' = 0.15*S/2 + (r*85 div 200)
    val cyc = GraphAnalytics.pageRank(
      triples(("a", "P", "b"), ("b", "P", "a")), 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = {
      var r = s / 2
      (1 to 3).foreach(_ => r = (s * 15 / 100) / 2 + (r * 85) / (100 * 1))
      r
    }
    assert(cyc == Map("a" -> expected, "b" -> expected))

    // star: b,c,d -> a, one iteration by hand
    val star = GraphAnalytics.pageRank(
      triples(("b", "P", "a"), ("c", "P", "a"), ("d", "P", "a")), 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = (s * 15 / 100) / 4
    val r0 = s / 4
    val share = (r0 * 85) / (100 * 1)
    assert(star("a") == base + 3 * share)
    assert(star("b") == base && star("c") == base && star("d") == base)
  }

  test("pageRank preserveDanglingMass: exact one-iteration arithmetic and rank-sum conservation") {
    val s = GraphAnalytics.PageRankScale
    // a -> b, a -> c: b and c are DANGLING (no out-edges). The default
    // variant leaks 85% of their rank every iteration; the preserving
    // variant redistributes it uniformly.
    val t = triples(("a", "P", "b"), ("a", "P", "c"))

    // one iteration, every truncation by hand:
    val n = 3L
    val r0 = s / n
    val base = (s * 15 / 100) / n
    val dangShare = ((2 * r0) * 85) / (100 * n) // b+c dangling at iter 1
    val aShare = (r0 * 85) / (100 * 2) // a's out_deg = 2
    val one = GraphAnalytics.pageRank(t, 1, preserveDanglingMass = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one("a") == base + dangShare)
    assert(one("b") == base + aShare + dangShare)
    assert(one("c") == one("b"))

    // 10 iterations: the preserved rank sum stays at S up to integer
    // truncation drift (a handful of units per division site per
    // iteration), while the dropping variant has leaked most of the mass
    val pres = GraphAnalytics.pageRank(t, 10, preserveDanglingMass = true)
      .collect().map(_.getLong(1)).sum
    val drop = GraphAnalytics.pageRank(t, 10)
      .collect().map(_.getLong(1)).sum
    assert(pres <= s)
    assert(s - pres < 1000L, s"rank sum drifted: $pres vs $s")
    assert(drop < pres * 9 / 10, s"drop variant should leak mass: $drop vs $pres")
  }

  test("pageRank: sink ranks above sources and total mass bounded by S") {
    val t = triples(
      ("u1", "P", "hub"), ("u2", "P", "hub"), ("u3", "P", "hub"),
      ("hub", "P", "u1"))
    val got = GraphAnalytics.pageRank(t, 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("hub") > got("u2") && got("u1") > got("u2"))
    assert(got.values.sum <= GraphAnalytics.PageRankScale)
    assert(got.values.forall(_ > 0L))
  }

  private type T = (String, String, String)
  private val Discusses = Set("DISCUSSES_ZAAK", "DISCUSSES_DOSSIER")
  private val Cap = 5

  /** Generic nodes n0..n11 with out-edges, self-loops and parallel
    * predicates (n12..n15 only ever receive: dangling); persons discussing
    * zaken, some through both predicates and several shared; and zaak:HOT,
    * discussed by Cap + 1 persons, one of whom also shares zaak:Z0.
    */
  private def randomGraph(rnd: Random): Seq[T] = {
    val generic = (1 to 25).map { _ =>
      val u = s"n${rnd.nextInt(12)}"
      val v = if (rnd.nextInt(6) == 0) u else s"n${rnd.nextInt(16)}"
      (u, if (rnd.nextBoolean()) "P" else "Q", v)
    }
    val disc = (1 to 24).map { _ =>
      (s"persoon:P${rnd.nextInt(12)}", if (rnd.nextBoolean()) "DISCUSSES_ZAAK"
        else "DISCUSSES_DOSSIER", s"zaak:Z${rnd.nextInt(6)}")
    }
    val hot = (0 to Cap).map(i => (s"persoon:H$i", "DISCUSSES_ZAAK", "zaak:HOT"))
    generic ++ disc ++ hot :+ (("persoon:H0", "DISCUSSES_ZAAK", "zaak:Z0"))
  }

  /** PageRank by the contract's arithmetic, truncating where `div` does. */
  private def refPageRank(t: Seq[T], iters: Int, preserve: Boolean): Map[String, Long] = {
    val s = GraphAnalytics.PageRankScale
    val edges = t.map(x => (x._1, x._3)).distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toLong
    val outDeg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val base = (s * 15 / 100) / n
    var r = nodes.map(_ -> s / n).toMap
    for (_ <- 1 to iters) {
      val dang =
        if (!preserve) 0L
        else (nodes.filterNot(outDeg.contains).map(r).sum * 85) / (100 * n)
      val contrib = edges.groupMapReduce(_._2) { case (u, _) =>
        (r(u) * 85) / (100 * outDeg(u)) }(_ + _)
      r = nodes.map(v => v -> (base + contrib.getOrElse(v, 0L) + dang)).toMap
    }
    r
  }

  /** Oriented co-discussion pairs over the zaken at or below the cap, and
    * the dropped (keys, person rows) of the zaken above it. */
  private def refCoDiscussion(t: Seq[T]): (Set[(String, String)], Long, Long) = {
    val sets = t.collect { case (p, pred, z) if Discusses(pred) => z -> p }
      .groupMap(_._1)(_._2).values.map(_.distinct).toSeq
    val (hot, kept) = sets.partition(_.size > Cap)
    val pairs = kept.flatMap(ps => for (a <- ps; b <- ps if a < b) yield (a, b)).toSet
    (pairs, hot.size.toLong, hot.map(_.size.toLong).sum)
  }

  test("pageRank equals the plain-Scala fixed-point reference on random graphs (both variants)") {
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val t = randomGraph(rnd)
      val df = triples(t: _*)
      for (iters <- Seq(0, 1, 3, 10); preserve <- Seq(false, true)) {
        val got = GraphAnalytics.pageRank(df, iters, preserve)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == refPageRank(t, iters, preserve),
          s"trial $trial, iters $iters, preserveDanglingMass $preserve")
      }
    }
  }

  test("coDiscussion equals a plain-Scala pair enumeration, cap counters included (random graphs)") {
    val rnd = new Random(11)
    for (trial <- 1 to 5) {
      val t = randomGraph(rnd)
      val obs = new Observation(s"codisc_ref_$trial")
      val got = GraphAnalytics.coDiscussion(triples(t: _*), Cap, Some(obs))
        .collect().map(r => (r.getString(0), r.getString(1)))
      val (pairs, keys, rows) = refCoDiscussion(t)
      assert(got.length == got.toSet.size, s"trial $trial: duplicate pairs")
      assert(got.toSet == pairs, s"trial $trial")
      assert(obs.get("dropped_zaak_keys") == keys, s"trial $trial")
      assert(obs.get("dropped_zaak_rows") == rows, s"trial $trial")
    }
  }
}
