package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  /** Independent BigInt replay of the pageRank contract — same Q18 base,
    * same floor-divisions, written against the MATH (not the code). */
  private def replay(edges: Seq[(Long, Long)], iters: Int,
                     d: Int = 850): Map[Long, BigInt] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size
    val od = edges.groupBy(_._1).view.mapValues(es => BigInt(es.size)).toMap
    val base = BigInt(10).pow(18) / n
    var r = nodes.map(v => v -> base).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(od.contains).map(r).sum
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / od(s) }.sum).toMap
      r = nodes.map(v => v -> (
        (BigInt(1000 - d) * base +
          BigInt(d) * (contrib.getOrElse(v, BigInt(0)) + dm / n)) / 1000)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int,
                  stage: Boolean = false): Map[Long, Long] =
    Graphs.pageRank(edges.toDF("src", "dst"), "src", "dst", iters,
        stagePerIteration = stage)
      .as[(Long, Long)].collect().toMap

  test("pageRank matches an independent BigInt replay (dangling node included)") {
    // 1→2, 2→1, 2→3; node 3 is dangling — its mass redistributes
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L))
    val got = run(edges, 3)
    val want = replay(edges, 3).map { case (k, v) => k -> v.toLong }
    assert(got == want)
    // sink-fed node 3 outranks nobody pointing at it would suggest; the
    // recirculating pair must outrank the dangling sink
    assert(got(2L) > got(3L))
    // total mass stays ≈ 10^18 (floor leaks only)
    val mass = got.values.map(BigInt(_)).sum
    assert((BigInt(10).pow(18) - mass) < BigInt(1000),
      s"mass leaked more than flooring allows: $mass")
  }

  test("pageRank honors parallel-edge multiplicity as link weight") {
    // 1 links twice to 2 and once to 3: 2 must receive double share
    val weighted = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L))
    val got = run(weighted, 2)
    val want = replay(weighted, 2).map { case (k, v) => k -> v.toLong }
    assert(got == want)
    assert(got(2L) > got(3L))
  }

  test("pageRank stagePerIteration is bit-identical to the lazy plan") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    assert(run(edges, 3) == run(edges, 3, stage = true))
  }

  /** BigInt replay of the WARM rounds: r₀ = prior where present, uniform
    * base of the CURRENT graph where new; then the pageRank update. */
  private def replayWarm(edges: Seq[(Long, Long)], prior: Map[Long, BigInt],
                         iters: Int, d: Int = 850): Map[Long, BigInt] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size
    val od = edges.groupBy(_._1).view.mapValues(es => BigInt(es.size)).toMap
    val base = BigInt(10).pow(18) / n
    var r = nodes.map(v => v -> prior.getOrElse(v, base)).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(od.contains).map(r).sum
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / od(s) }.sum).toMap
      r = nodes.map(v => v -> (
        (BigInt(1000 - d) * base +
          BigInt(d) * (contrib.getOrElse(v, BigInt(0)) + dm / n)) / 1000)).toMap
    }
    r
  }

  private def runWarm(edges: Seq[(Long, Long)], prior: Map[Long, Long],
                      iters: Int, stage: Boolean = false): Map[Long, Long] =
    Graphs.pageRank(edges.toDF("src", "dst"), "src", "dst", iters,
        prior = Some(prior.toSeq.toDF("node", "rank_q18")),
        stagePerIteration = stage)
      .as[(Long, Long)].collect().toMap

  test("pageRankWarm matches the BigInt replay on an edge append (new + carried + dangling nodes)") {
    // resident graph ranks cold; an append adds a new node 5 and a new
    // edge into the dangling node 4 — warm rounds must seed carried
    // nodes from the prior, new node 5 at the FULL graph's uniform base
    val old = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L))
    val full = old ++ Seq((5L, 1L), (1L, 5L), (5L, 4L))
    val prior = run(old, 3)
    val got = runWarm(full, prior, 2)
    val want = replayWarm(full, prior.map { case (k, v) => k -> BigInt(v) }, 2)
      .map { case (k, v) => k -> v.toLong }
    assert(got == want)
    // staged ≡ lazy, bit for bit
    assert(runWarm(full, prior, 2, stage = true) == got)
  }

  test("pageRankWarm with a uniform prior is bit-identical to cold pageRank") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    val n = (edges.map(_._1) ++ edges.map(_._2)).distinct.size
    val uniform = (edges.map(_._1) ++ edges.map(_._2)).distinct
      .map(v => v -> (BigInt(10).pow(18) / n).toLong).toMap
    assert(runWarm(edges, uniform, 3) == run(edges, 3))
    // and an EMPTY prior cold-starts every node the same way
    assert(runWarm(edges, Map.empty, 3) == run(edges, 3))
  }

  test("pageRankWarm converges faster than a cold restart after a small append") {
    // a ring with chords plus a 2-edge append: after the same 2 rounds,
    // the warm ranks must sit closer (L1 on rank_q18) to the converged
    // full ranking than the cold ranks do — the point of warm-starting
    // deep runs MUST stage: the lazy plan's rank lineage doubles per
    // round (the pageRank scaladoc's 2^iters warning)
    val old = (1L to 12L).map(v => (v, v % 12 + 1)) ++
      Seq((1L, 7L), (4L, 10L), (8L, 2L))
    val full = old ++ Seq((13L, 1L), (7L, 13L))
    val prior = run(old, 12, stage = true)
    val converged = run(full, 40, stage = true)
    def l1(a: Map[Long, Long]) =
      converged.keys.map(k => (BigInt(a(k)) - BigInt(converged(k))).abs).sum
    val warm2 = runWarm(full, prior, 2)
    val cold2 = run(full, 2)
    assert(l1(warm2) < l1(cold2),
      s"warm L1 ${l1(warm2)} must beat cold L1 ${l1(cold2)}")
  }

  test("pageRankWarm guards the prior's shape") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    assert(intercept[IllegalArgumentException](
      Graphs.pageRank(e, "src", "dst", 1,
        prior = Some(Seq((1L, 1L)).toDF("node", "rank")))).getMessage.contains("rank_q18"))
  }

  /** Independent BigInt replay of the trustRank contract. */
  private def replayTrust(edges: Seq[(Long, Long)], seedIds: Seq[Long],
                          iters: Int, d: Int = 850): Map[Long, BigInt] = {
    val seeds = seedIds.distinct.toSet
    val nodes = (edges.map(_._1) ++ edges.map(_._2) ++ seeds).distinct
    val od = edges.groupBy(_._1).view.mapValues(es => BigInt(es.size)).toMap
    val base = BigInt(10).pow(18) / seeds.size
    def tele(v: Long): BigInt = if (seeds(v)) base else BigInt(0)
    var r = nodes.map(v => v -> tele(v)).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(od.contains).map(r).sum
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / od(s) }.sum).toMap
      r = nodes.map(v => v -> (
        (BigInt(1000 - d) * tele(v) +
          BigInt(d) * (contrib.getOrElse(v, BigInt(0)) +
            (if (seeds(v)) dm / seeds.size else BigInt(0)))) / 1000)).toMap
    }
    r
  }

  private def runTrust(edges: Seq[(Long, Long)], seedIds: Seq[Long],
                       iters: Int): Map[Long, Long] =
    Graphs.pageRank(edges.toDF("src", "dst"), "src", "dst", iters,
        seeds = Some(seedIds.toDF("seed")))
      .as[(Long, Long)].collect().toMap

  test("trustRank matches an independent BigInt replay; spam region scores zero") {
    // trusted: 1 ↔ 2; spam farm: 10 ↔ 11 (heavily interlinked, no links
    // from the trusted region); 3 is linked FROM the trusted region
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L),
      (10L, 11L), (11L, 10L), (10L, 11L), (11L, 10L))
    val got = runTrust(edges, Seq(1L, 2L), 3)
    val want = replayTrust(edges, Seq(1L, 2L), 3)
      .map { case (k, v) => k -> v.toLong }
    assert(got == want)
    // PageRank would reward the farm's interlinking; TrustRank must not
    assert(got(10L) == 0L && got(11L) == 0L, got.toString)
    assert(got(3L) > 0L, "trusted region links into 3: it earns trust")
    val pr = run(edges, 3)
    assert(pr(10L) > 0L, "sanity: plain PageRank DOES pay the farm")
  }

  test("trustRank: a seed absent from the graph still absorbs teleport mass") {
    val edges = Seq((1L, 2L), (2L, 1L))
    val got = runTrust(edges, Seq(1L, 99L), 2)
    val want = replayTrust(edges, Seq(1L, 99L), 2)
      .map { case (k, v) => k -> v.toLong }
    assert(got == want)
    assert(got.contains(99L) && got(99L) > 0L)
    intercept[IllegalArgumentException](
      Graphs.pageRank(edges.toDF("src", "dst"), "src", "dst", 1,
        seeds = Some(Seq.empty[Long].toDF("seed"))))
  }

  /** Warm replay of the seeded rounds: r₀ = prior where carried, cold
    * init (seed base or 0) where new, then the trustRank update. */
  private def replayTrustWarm(edges: Seq[(Long, Long)], seedIds: Seq[Long],
                              prior: Map[Long, BigInt],
                              iters: Int, d: Int = 850): Map[Long, BigInt] = {
    val seeds = seedIds.distinct.toSet
    val nodes = (edges.map(_._1) ++ edges.map(_._2) ++ seeds).distinct
    val od = edges.groupBy(_._1).view.mapValues(es => BigInt(es.size)).toMap
    val base = BigInt(10).pow(18) / seeds.size
    def tele(v: Long): BigInt = if (seeds(v)) base else BigInt(0)
    var r = nodes.map(v => v -> prior.getOrElse(v, tele(v))).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(od.contains).map(r).sum
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / od(s) }.sum).toMap
      r = nodes.map(v => v -> (
        (BigInt(1000 - d) * tele(v) +
          BigInt(d) * (contrib.getOrElse(v, BigInt(0)) +
            (if (seeds(v)) dm / seeds.size else BigInt(0)))) / 1000)).toMap
    }
    r
  }

  test("trustRankWarm matches the warm replay; EdgeStage append parity; uniform-with-cold equivalence") {
    val resident = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L))
    val delta = Seq((5L, 1L), (1L, 5L), (5L, 4L))
    val full = resident ++ delta
    val seeds = Seq(1L, 2L)
    val prior = runTrust(resident, seeds, 3)
    val want = replayTrustWarm(full, seeds,
      prior.map { case (k, v) => k -> BigInt(v) }, 2)
      .map { case (k, v) => k -> v.toLong }
    // lazy warm on the full union
    val gotLazy = Graphs.pageRank(full.toDF("src", "dst"), "src", "dst", 2,
        prior = Some(prior.toSeq.toDF("node", "rank_q18")),
        seeds = Some(seeds.toDF("seed")))
      .as[(Long, Long)].collect().toMap
    assert(gotLazy == want)
    // staged: stage resident + seeded pageRankStaged ≡ cold; append + warm ≡ lazy
    val st = Graphs.stageEdgeTable(resident.toDF("src", "dst"), "src", "dst")
    try {
      val r0 = Graphs.pageRankStaged(st, 3, seeds = Some(seeds.toDF("seed")))
      assert(r0.as[(Long, Long)].collect().toMap == prior)
      st.append(delta.toDF("src", "dst"), "src", "dst")
      val got = Graphs.pageRankStaged(st, 2, prior = Some(r0),
          seeds = Some(seeds.toDF("seed"))).as[(Long, Long)].collect().toMap
      assert(got == want)
    } finally st.drop()
    // a cold-init prior (seed base / zero) warm-runs bit-identical to cold
    val n = (full.map(_._1) ++ full.map(_._2) ++ seeds).distinct
    val baseQ = (BigInt(10).pow(18) / seeds.distinct.size).toLong
    val coldInit = n.map(v => v -> (if (seeds.contains(v)) baseQ else 0L)).toMap
    val warmFromCold = Graphs.pageRank(full.toDF("src", "dst"), "src",
        "dst", 3, prior = Some(coldInit.toSeq.toDF("node", "rank_q18")),
        seeds = Some(seeds.toDF("seed")))
      .as[(Long, Long)].collect().toMap
    assert(warmFromCold == runTrust(full, seeds, 3))
  }

  test("pageRankWeighted ≡ pageRank on the expanded parallel-edge multiset, bit for bit") {
    // the compact (src, dst, w) form must reproduce the multiset form
    // exactly — w·(r div Σw) is precisely the sum of w floor-divided
    // parallel contributions
    val multi = Seq((1L, 2L), (1L, 2L), (1L, 2L), (1L, 3L),
      (2L, 1L), (3L, 1L), (3L, 1L), (4L, 1L))
    val weighted = multi.groupBy(identity).view
      .map { case ((s, d2), es) => (s, d2, es.size.toLong) }.toSeq
      .toDF("src", "dst", "w")
    val got = Graphs.pageRank(weighted, "src", "dst", 3, weightCol = Some("w"))
      .as[(Long, Long)].collect().toMap
    assert(got == run(multi, 3))
    // staged form identical too
    val staged = Graphs.pageRank(weighted, "src", "dst", 3,
      weightCol = Some("w"), stagePerIteration = true).as[(Long, Long)].collect().toMap
    assert(staged == got)
    intercept[IllegalArgumentException](
      Graphs.pageRank(weighted, "src", "dst", 0, weightCol = Some("w")))
  }

  /** Independent BigInt replay of the hits contract — h₀ = 10⁹, the two
    * half-steps, max-normalized floor division, written against the
    * MATH (not the code). */
  private def replayHits(edges: Seq[(Long, Long)],
                         iters: Int): Map[Long, (BigInt, BigInt)] = {
    val s9 = BigInt(1000000000)
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var hub = nodes.map(v => v -> s9).toMap
    var auth = Map.empty[Long, BigInt]
    def half(sc: Map[Long, BigInt], flip: Boolean): Map[Long, BigInt] = {
      val raw = nodes.map { v =>
        v -> edges.collect {
          case (u, w) if !flip && w == v => sc(u)
          case (u, w) if flip && u == v => sc(w)
        }.sum
      }.toMap
      val mx = raw.values.max
      raw.view.mapValues(r => r * s9 / mx).toMap
    }
    for (_ <- 1 to iters) {
      auth = half(hub, flip = false)
      hub = half(auth, flip = true)
    }
    nodes.map(v => v -> ((hub(v), auth(v)))).toMap
  }

  test("hits matches an independent BigInt replay; hubs and authorities split") {
    // 1 and 2 are pure hubs pointing at authority 4; 3 is both-ish
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L), (1L, 3L), (2L, 3L))
    val got = Graphs.hits(edges.toDF("src", "dst"), "src", "dst", 2)
      .as[(Long, Long, Long)].collect()
      .map { case (n, h, a) => n -> ((BigInt(h), BigInt(a))) }.toMap
    assert(got == replayHits(edges, 2))
    // node 4 is the max authority and a zero hub; 1/2 are max hubs with
    // zero authority
    assert(got(4L)._2 == BigInt(1000000000) && got(4L)._1 == 0)
    assert(got(1L)._1 == BigInt(1000000000) && got(1L)._2 == 0)
    assert(got(2L)._1 == got(1L)._1)
    // 3 gets some authority (1,2 point at it) and a smaller hub score
    assert(got(3L)._2 > 0 && got(3L)._1 > 0 && got(3L)._1 < got(1L)._1)
  }

  test("hits stagePerIteration is bit-identical to the lazy plan; guards hold") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    val lazyRun = Graphs.hits(edges.toDF("src", "dst"), "src", "dst", 3)
      .as[(Long, Long, Long)].collect().toSet
    val staged = Graphs.hits(edges.toDF("src", "dst"), "src", "dst", 3,
      stagePerIteration = true).as[(Long, Long, Long)].collect().toSet
    assert(staged == lazyRun)
    // parallel edges are multiplicity: doubling 4→1 changes the result
    // (the duplicate is NOT collapsed) and matches the BigInt replay
    val parEdges = edges :+ ((4L, 1L))
    val par = Graphs.hits(parEdges.toDF("src", "dst"), "src", "dst", 2)
      .as[(Long, Long, Long)].collect()
      .map { case (n, h, a) => n -> ((BigInt(h), BigInt(a))) }.toMap
    assert(par == replayHits(parEdges, 2))
    intercept[IllegalArgumentException](
      Graphs.hits(edges.toDF("src", "dst"), "src", "dst", 0))
    intercept[IllegalArgumentException](
      Graphs.hits(Seq((1L, 2L, 3L)).toDF("src", "dst", "hub_q9"),
        "src", "dst", 1))
    intercept[IllegalArgumentException](
      Graphs.hits(spark.emptyDataFrame
        .withColumn("src", lit(1L)).withColumn("dst", lit(2L)),
        "src", "dst", 1))
  }

  /** Independent brute-force triangle/coefficient replay — adjacency
    * sets, all (a < b < c) id-ordered triples, written against the
    * MATH (not the degree-ordered code path). */
  private def bruteTriangles(
      edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] = {
    val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val adj = nodes.map(n => n -> es.collect {
      case (a, b) if a == n => b
      case (a, b) if b == n => a
    }.toSet).toMap
    val tris = for {
      a <- nodes; b <- nodes if a < b && adj(a)(b)
      c <- nodes if b < c && adj(a)(c) && adj(b)(c)
    } yield (a, b, c)
    nodes.map { n =>
      val d = adj(n).size.toLong
      val t = tris.count(x => x._1 == n || x._2 == n || x._3 == n).toLong
      n -> ((d, t, if (d >= 2) 2097152L * t / (d * (d - 1)) else 0L))
    }.toMap
  }

  test("triangles: K4+pendant hand graph; dup/reversed/self edges collapse") {
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((1L, 5L), (5L, 1L), (2L, 1L), (3L, 3L)))
    val got = Graphs.triangles(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == bruteTriangles(edges))
    // K4 holds 4 triangles, 3 per member; the pendant node holds none
    assert(got(1L) == ((4L, 3L, 524288L)), got(1L))    // coef 0.5 in Q20
    assert(got(2L) == ((3L, 3L, 1048576L)), got(2L))   // coef 1.0 in Q20
    assert(got(5L) == ((1L, 0L, 0L)), got(5L))
    assert(got.values.map(_._2).sum == 12L, "4 triangles x 3 nodes")
  }

  test("triangles: brute-force agreement on a pseudo-random graph") {
    val edges = (1L to 60L).map(i => ((i * 7) % 19, (i * 11) % 19))
      .filter(e => e._1 != e._2)
    val got = Graphs.triangles(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == bruteTriangles(edges))
    assert(got.values.map(_._2).sum % 3 == 0, "each triangle counted thrice")
  }

  test("kCore: cascade peeling matches brute force; empty core; guards") {
    // a triangle {1,2,3} with a tail 3-4-5: peeling the 2-core removes 5,
    // THEN 4 (cascade — two rounds, not one) and keeps the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val got = Graphs.kCore(edges.toDF("src", "dst"), "src", "dst", 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), got)
    // no 3-core exists: peeling cascades to empty, still converges
    val none = Graphs.kCore(edges.toDF("src", "dst"), "src", "dst", 3)
      .as[(Long, Long)].collect()
    assert(none.isEmpty)
    // brute-force agreement on a pseudo-random graph, k = 3
    val rnd = (1L to 60L).map(i => ((i * 7) % 19, (i * 11) % 19))
      .filter(e => e._1 != e._2)
    def brute(es: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
      val undirected = es.map { case (a, b) =>
        (math.min(a, b), math.max(a, b)) }.distinct
      var alive = (undirected.map(_._1) ++ undirected.map(_._2)).toSet
      var stable = false
      while (!stable) {
        val deg = alive.map(n => n -> undirected.count { case (a, b) =>
          (a == n && alive(b)) || (b == n && alive(a)) }).toMap
        val next = alive.filter(deg(_) >= k)
        stable = next == alive
        alive = next
      }
      alive.map(n => n -> undirected.count { case (a, b) =>
        (a == n && alive(b)) || (b == n && alive(a)) }.toLong).toMap
    }
    val gotRnd = Graphs.kCore(rnd.toDF("src", "dst"), "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    assert(gotRnd == brute(rnd, 3))
    // the ceiling fails loudly instead of returning a half-peeled set
    val chain = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq
    intercept[IllegalStateException](
      Graphs.kCore(chain.toDF("src", "dst"), "src", "dst", 2,
        maxRounds = 2))
    intercept[IllegalArgumentException](
      Graphs.kCore(chain.toDF("src", "dst"), "src", "dst", 0))
  }

  test("pageRank guards its parameters and reserved columns") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](
      Graphs.pageRank(e, "src", "dst", 0))
    intercept[IllegalArgumentException](
      Graphs.pageRank(e, "src", "dst", 1, dampingPerMille = 1001))
    intercept[IllegalArgumentException](
      Graphs.pageRank(Seq((1L, 2L, 3L)).toDF("src", "dst", "rank_q"),
        "src", "dst", 1))
    intercept[IllegalArgumentException](
      Graphs.pageRank(spark.emptyDataFrame
        .withColumn("src", lit(1L)).withColumn("dst", lit(2L)),
        "src", "dst", 1))
  }

  test("staged rounds drop their edge table on FAILURE paths too (no catalog leak)") {
    // the round-lifetime managed table has no JVM-exit cleanup contract
    // (unlike stage dirs), so every exception path must drop it — the
    // cheapest repeatable failure is the empty-graph require, which
    // fires AFTER stageEdgesBucketed has already written the table
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Graphs.pageRank(empty, "src", "dst", 2, stagePerIteration = true)
    }
    intercept[IllegalArgumentException] {
      Graphs.pageRank(empty.withColumn("w", lit(1L)), "src", "dst", 2,
        weightCol = Some("w"), stagePerIteration = true)
    }
    val leaked = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_pr_edges"))
    assert(leaked.isEmpty, s"leaked round-lifetime tables: ${leaked.toSeq}")
  }

  test("staged rounds: bucketed edge table keeps the contribution join edge-Exchange-free") {
    // r15 verdict #2: pre-bucketing the staged edge table on _pr_src
    // must remove the edge-side Exchange from every iteration's
    // rank×edge join — pin the physical shape on the exact building
    // blocks pageRank uses (stageEdgesBucketed + prContrib), with
    // broadcast disabled so the shuffle-join path is what's planned.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("_pr_src", "_pr_dst")
    val (e, drop) = Graphs.stageEdgesBucketed(e0)
    try {
      val ranks = Seq((1L, Option(2L), 100L), (2L, Option(1L), 100L),
        (3L, Option(1L), 100L)).toDF("node", "_pr_od", "rank_q")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val contrib = Graphs.prContrib(e, ranks)
        val root = contrib.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.inputPlan
          case p => p
        }
        val bucketedScans = root.collectLeaves().collect {
          case f: FileSourceScanExec if f.bucketedScan => f
        }
        assert(bucketedScans.nonEmpty,
          s"edge side must plan as a bucketed scan:\n$root")
        val offenders = root.collect {
          case ex: ShuffleExchangeExec if ex.collectLeaves().exists {
            case f: FileSourceScanExec => f.bucketedScan
            case _ => false
          } => ex
        }
        assert(offenders.isEmpty,
          s"no Exchange may sit above the bucketed edge scan:\n$root")
        // one file per bucket (writeBucketed repartitions by the key), so
        // the scan reports its sortBy order and the merge join skips the
        // edge-side SORT too — the per-iteration 75M-row sort tax
        val sortOffenders = root.collect {
          case so: org.apache.spark.sql.execution.SortExec
            if so.collectLeaves().exists {
              case f: FileSourceScanExec => f.bucketedScan
              case _ => false
            } => so
        }
        assert(sortOffenders.isEmpty,
          s"no Sort may sit above the bucketed edge scan:\n$root")
        // and the round algebra is unchanged: 1←3's rank? verify sums —
        // node 2 gets 100 div 2 = 50 from node 1; node 3 gets 50 (from 1)
        // + 100 (from 2); node 1 gets 100 (from 3)
        val got = contrib.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == Map(2L -> 50L, 3L -> 150L, 1L -> 100L), got.toString)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally drop()
  }

  test("EdgeStage: append + warm rounds ≡ one-shot warm on the full graph, bit for bit") {
    // the per-crawl cadence (r16 verdict #2): resident graph buckets
    // once, the delta APPENDS, warm rounds run over the combined table —
    // results must match warm pageRank fed the full edge union, and the
    // staged cold form must match plain pageRank
    val resident = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L))
    val delta = Seq((5L, 1L), (1L, 5L), (5L, 4L))
    val full = resident ++ delta
    val st = Graphs.stageEdgeTable(resident.toDF("src", "dst"), "src", "dst")
    try {
      val prior = Graphs.pageRankStaged(st, 3)
      // staged cold ≡ plain cold on the resident graph
      assert(prior.as[(Long, Long)].collect().toMap == run(resident, 3))
      st.append(delta.toDF("src", "dst"), "src", "dst")
      val got = Graphs.pageRankStaged(st, 2, prior = Some(prior))
        .as[(Long, Long)].collect().toMap
      val want = runWarm(full, run(resident, 3), 2)
      assert(got == want)
    } finally st.drop()
  }

  test("pageRankWeightedWarm ≡ unweighted warm on the expanded multiset; weighted EdgeStage append parity") {
    // a parallel edge in the resident crawl AND a (src, dst) pair
    // repeated across crawls: the appended stage holds two weighted rows
    // for (1, 2) — the additive multiset algebra must make that
    // identical to the merged-weight and fully-expanded forms
    val resident = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L))
    val delta = Seq((5L, 1L), (1L, 5L), (1L, 2L), (5L, 4L))
    val full = resident ++ delta
    def w(es: Seq[(Long, Long)]) = es.groupBy(identity).toSeq
      .map { case ((s, d), g) => (s, d, g.size.toLong) }
      .toDF("src", "dst", "w")
    val prior = run(resident, 3)
    val want = runWarm(full, prior, 2)
    val gotLazy = Graphs.pageRank(w(full), "src", "dst", 2,
        weightCol = Some("w"),
        prior = Some(prior.toSeq.toDF("node", "rank_q18")))
      .as[(Long, Long)].collect().toMap
    assert(gotLazy == want)
    val st = Graphs.stageEdgeTable(w(resident), "src", "dst",
      weightCol = Some("w"))
    try {
      val r0 = Graphs.pageRankStaged(st, 3)
      assert(r0.as[(Long, Long)].collect().toMap == prior)
      st.append(w(delta), "src", "dst", weightCol = Some("w"))
      val got = Graphs.pageRankStaged(st, 2, prior = Some(r0))
        .as[(Long, Long)].collect().toMap
      assert(got == want)
      // guard: weighted/unweighted append cross-calls refuse loudly
      intercept[IllegalArgumentException] {
        st.append(Seq((9L, 9L)).toDF("src", "dst"), "src", "dst")
      }
    } finally st.drop()
  }

  test("EdgeStage skeleton: incremental merge ≡ full rebuild across appends (dangling, weighted, trust seeds)") {
    // the incrementally-maintained (node, od) skeleton must stay
    // bit-identical to a from-scratch derivation after ANY append chain:
    // repeated src across crawls (od adds), brand-new nodes, and nodes
    // that stay dangling (null od) in every delta
    val resident = Seq((1L, 2L), (2L, 3L), (3L, 4L)) // 4 dangling
    val d1 = Seq((1L, 2L), (5L, 1L), (6L, 4L))       // 1 gains od, 5/6 new
    val d2 = Seq((4L, 7L))                           // 4 stops dangling
    val st = Graphs.stageEdgeTable(resident.toDF("src", "dst"), "src", "dst")
    try {
      st.append(d1.toDF("src", "dst"), "src", "dst")
      st.append(d2.toDF("src", "dst"), "src", "dst")
      val full = resident ++ d1 ++ d2
      val wantOd = full.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val nodes = (full.map(_._1) ++ full.map(_._2)).distinct
      val want = nodes.map(n => n -> wantOd.get(n)).toMap
      val got = st.skeletonOpt.get.collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(got == want)
      // seeded rounds over the merged skeleton: a seed OUTSIDE the graph
      // must still absorb teleport mass (rows for node 99 exist)
      val seeds = Seq(2L, 99L).toDF("seed")
      val tr = Graphs.pageRankStaged(st, 2, seeds = Some(seeds))
        .as[(Long, Long)].collect().toMap
      val trWant = Graphs.pageRank(full.toDF("src", "dst"), "src", "dst", 2,
        seeds = Some(seeds)).as[(Long, Long)].collect().toMap
      assert(tr == trWant && tr.contains(99L))
    } finally st.drop()
  }

  test("EdgeStage skeleton: an EMPTY delta append is a no-op merge (skeleton stays exact)") {
    // an empty delta stages an empty frame, appends nothing and merges
    // no rows — the skeleton must remain the exact pre-append table and
    // rankers must still agree with the lazy form
    val resident = Seq((1L, 2L), (2L, 3L))
    val st = Graphs.stageEdgeTable(resident.toDF("src", "dst"), "src", "dst")
    try {
      val before = st.skeletonOpt.get.collect().map(_.toSeq).toSet
      st.append(Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst")
      val after = st.skeletonOpt.get.collect().map(_.toSeq).toSet
      assert(after == before)
      val got = Graphs.pageRankStaged(st, 2).as[(Long, Long)].collect().toMap
      val want = Graphs.pageRank(resident.toDF("src", "dst"), "src", "dst", 2)
        .as[(Long, Long)].collect().toMap
      assert(got == want)
    } finally st.drop()
  }

  test("EdgeStage: appended (multi-file-bucket) table keeps the round join edge-Exchange- and Sort-free") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val st = Graphs.stageEdgeTable(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst")
    try {
      st.append(Seq((3L, 1L), (1L, 3L)).toDF("src", "dst"), "src", "dst")
      val ranks = Seq((1L, Option(2L), 100L), (2L, Option(1L), 100L),
        (3L, Option(1L), 100L)).toDF("node", "_pr_od", "rank_q")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        // the staged rankers' join form: rank side hashed (prContrib
        // shjRanks) — an appended bucket holds >1 file, so a merge join
        // would re-sort the edge side every round
        val contrib = Graphs.prContrib(
          spark.table(st.table), ranks, shjRanks = true)
        val root = contrib.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.inputPlan
          case p => p
        }
        val bucketedScans = root.collectLeaves().collect {
          case f: FileSourceScanExec if f.bucketedScan => f
        }
        assert(bucketedScans.nonEmpty,
          s"edge side must plan as a bucketed scan:\n$root")
        val offenders = root.collect {
          case ex: ShuffleExchangeExec if ex.collectLeaves().exists {
            case f: FileSourceScanExec => f.bucketedScan
            case _ => false
          } => ex
          case so: org.apache.spark.sql.execution.SortExec
            if so.collectLeaves().exists {
              case f: FileSourceScanExec => f.bucketedScan
              case _ => false
            } => so
        }
        assert(offenders.isEmpty,
          s"no Exchange/Sort may sit above the appended bucketed edge scan:\n$root")
        // algebra over the combined (resident + appended) edges:
        // 1→2, 2→3, 3→1, 1→3 with ranks 100 and od 2/1/1
        val got = contrib.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == Map(2L -> 50L, 3L -> 150L, 1L -> 100L), got.toString)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally st.drop()
  }

  /** Every message on an exception's cause chain, joined. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")

  test("a null node id raises at the projection boundary (frame and append paths)") {
    // the sum-with-null skeleton groups null ids into one node and gives
    // it an out-degree; the projection must refuse a null id instead
    val withNull = Seq((Option(1L), 2L), (None, 3L), (Option(3L), 1L))
      .toDF("src", "dst")
    val onFrame = intercept[Exception](
      Graphs.pageRank(withNull, "src", "dst", 2).collect())
    assert(messages(onFrame).contains("null node id"), messages(onFrame))
    val resident = Seq((1L, 2L), (2L, 1L))
    val st = Graphs.stageEdgeTable(resident.toDF("src", "dst"), "src", "dst")
    try {
      val onAppend = intercept[Exception](st.append(withNull, "src", "dst"))
      assert(messages(onAppend).contains("null node id"), messages(onAppend))
      // the refused delta left the stage as it was
      assert(Graphs.pageRankStaged(st, 2).as[(Long, Long)].collect().toMap ==
        run(resident, 2))
    } finally st.drop()
  }

  test("EdgeStage: a delta that throws mid-write leaves no stale state; the next append still merges exactly") {
    val resident = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val st = Graphs.stageEdgeTable(resident.toDF("src", "dst"), "src", "dst")
    try {
      // the caller's delta lineage fails on one row while it is written
      val bad = Seq((5L, 1L), (6L, 2L), (7L, 5L)).toDF("src", "dst")
        .withColumn("src", when(col("src") === 6L,
          raise_error(lit("delta lineage failed"))).otherwise(col("src")))
      val ex = intercept[Exception](st.append(bad, "src", "dst"))
      assert(messages(ex).contains("delta lineage failed"), messages(ex))
      // the rankers still see exactly the resident graph, bit for bit
      assert(Graphs.pageRankStaged(st, 2).as[(Long, Long)].collect().toMap ==
        run(resident, 2))
      // a good append after the failure: merged skeleton ≡ full rebuild,
      // staged ranks ≡ cold ranks over resident + delta
      val delta = Seq((5L, 1L), (1L, 5L), (4L, 2L))
      st.append(delta.toDF("src", "dst"), "src", "dst")
      val full = resident ++ delta
      val wantOd = full.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val want = (full.map(_._1) ++ full.map(_._2)).distinct
        .map(n => n -> wantOd.get(n)).toMap
      val got = st.skeletonOpt.get.collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(got == want)
      assert(Graphs.pageRankStaged(st, 2).as[(Long, Long)].collect().toMap ==
        run(full, 2))
    } finally st.drop()
    val leaked = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_pr_edges"))
    assert(leaked.isEmpty, s"leaked staged edge tables: ${leaked.toSeq}")
  }
}
