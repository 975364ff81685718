package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavior of the bigram-LM quality scorer (x45). */
class LmSpec extends SparkSpec {
  import spark.implicits._

  // train corpus "a b a b a c": C1 = {a:3, b:2, c:1}, T = 6,
  // C2 = {(a,b):2, (b,a):2, (a,c):1}
  private def train = Seq((100L, "a b a b a c")).toDF("doc_id", "text")

  test("bigramLmScoreQ30: exact seen, backoff, and OOV scores") {
    val cand = Seq(
      (1L, "a b"),   // seen pair: floor(2^30·2/3)           = 715827882
      (2L, "c a"),   // unseen pair, seen w2: floor(2^30·4·3/60) = 214748364
      (3L, "z q"),   // both unseen: 0
      (4L, "a"),     // one token: no pairs
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextStats.bigramLmScoreQ30(cand, "text", "doc_id", train, "text")
      .orderBy("doc_id")
      .as[(Long, Long, Option[Long], Option[Long])].collect()
    assert(out.sameElements(Array(
      (1L, 1L, Some(715827882L), Some(715827882L)),
      (2L, 1L, Some(214748364L), Some(214748364L)),
      (3L, 1L, Some(0L), Some(0L)),
      (4L, 0L, None, None),
      (5L, 0L, None, None))), out.toSeq)
  }

  test("bigramLmScoreQ30: in-distribution text outscores shuffled garbage") {
    val cand = Seq(
      (1L, "a b a b"),  // exactly the training distribution
      (2L, "b b b b")   // never-seen transitions, backoff only
    ).toDF("doc_id", "text")
    val out = TextStats.bigramLmScoreQ30(cand, "text", "doc_id", train, "text")
      .select("doc_id", "lm_q30").as[(Long, Long)].collect().toMap
    assert(out(1L) > out(2L), out)
  }

  test("bigramLmScoreQ30: empty train corpus scores 0, no ANSI throw") {
    val cand = Seq((1L, "a b")).toDF("doc_id", "text")
    val out = TextStats.bigramLmScoreQ30(
      cand, "text", "doc_id", train.filter(col("doc_id") < 0), "text")
      .as[(Long, Long, Option[Long], Option[Long])].collect()
    assert(out.sameElements(Array((1L, 1L, Some(0L), Some(0L)))), out.toSeq)
  }

  test("bigramLmScoreQ30 rejects reserved score-side columns") {
    val bad = Seq((1L, "a b", 0L)).toDF("doc_id", "text", "_c2")
    val e = intercept[IllegalArgumentException] {
      TextStats.bigramLmScoreQ30(bad, "text", "doc_id", train, "text")
    }
    assert(e.getMessage.contains("reserves"))
  }

  test("kneserNeyBigramScoreQ30: hand-computed discount + continuation interpolation") {
    // train bigrams: (a,b)x2, (a,c)x1, (c,b)x1 -> nbt 3;
    // ctx: a (c1x 3, n1l 2), c (1, 1); cont-right: b 2, c 1.
    // P(b|a) = (2-3/4)/3 + (3/4)(2/3)(2/3) = 3/4 -> 805306368
    // P(c|b): context b UNSEEN -> pure continuation 1/3 -> 357913941
    // P(a,a): seen context, unseen pair, cont(a)=0 -> 0
    val train = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "c b"))
      .toDF("doc_id", "text")
    val score = Seq((10L, "a b c b"), (11L, "x"), (12L, "a a"))
      .toDF("doc_id", "text")
    val got = TextStats.kneserNeyBigramScoreQ30(score, "text", "doc_id",
        train, "text")
      .as[(Long, Long, Option[Long], Option[Long])].collect()
      .sortBy(_._1).toSeq
    val pBA = 805306368L           // floor(2^30 * 27/36)
    val pCb = 357913941L           // floor(2^30 * 1/3)
    val pBC = 805306368L           // floor(2^30 * 9/12) — P(b|c)
    assert(got == Seq(
      (10L, 3L, Some(pBA + pCb + pBC), Some((pBA + pCb + pBC) / 3)),
      (11L, 0L, None, None),
      (12L, 1L, Some(0L), Some(0L))), got.mkString(", "))
    // the KN signal vs stupid backoff: under x45's backoff an unseen pair
    // with a FREQUENT second word scores high regardless of context
    // diversity; KN scores by distinct-context count. Here "b" follows
    // two distinct contexts but "c" only one, so KN's continuation ranks
    // unseen->b above unseen->c exactly 2:1
    val contB = 715827882L         // floor(2^30 * 2/3)
    val kn = TextStats.kneserNeyBigramScoreQ30(
      Seq((20L, "zz b"), (21L, "zz c")).toDF("doc_id", "text"),
      "text", "doc_id", train, "text")
      .as[(Long, Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(kn(0)._3 == Some(contB) && kn(1)._3 == Some(pCb),
      kn.mkString(", "))
    // empty train: every pair 0, no ANSI throw
    val empty = TextStats.kneserNeyBigramScoreQ30(score, "text", "doc_id",
      train.filter(col("doc_id") < 0), "text")
      .as[(Long, Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(empty.head == ((10L, 3L, Some(0L), Some(0L))), empty.mkString(", "))
    // reserved-name guard
    val e = intercept[IllegalArgumentException] {
      TextStats.kneserNeyBigramScoreQ30(
        score.withColumnRenamed("doc_id", "_w1"), "text", "_w1", train, "text")
    }
    assert(e.getMessage.contains("reserves"))
  }

  test("scoreBuckets: equal-mass terciles, whole bins never straddle a cut") {
    // 9 docs, scores 90..10 step 10, quantStep 1 → 9 bins: clean thirds
    val s = (1L to 9L).map(i => (i, i * 10L)).toDF("doc_id", "s")
    val got = TextStats.scoreBuckets(s, "doc_id", "s", quantStep = 1L)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got.map(_._3) == Seq("tail", "tail", "tail", "middle", "middle",
      "middle", "head", "head", "head"), got.mkString(", "))
    // a bin STRADDLING the cut takes the bucket of its first doc: scores
    // [10,10,10,1] → bin 10 (cumBefore 0 → head), bin 1 (cumBefore 3 →
    // (3·3) div 4 = 2 → tail); no doc lands in middle
    val tie = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 1L))
      .toDF("doc_id", "s")
    val tied = TextStats.scoreBuckets(tie, "doc_id", "s", quantStep = 1L)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(tied.map(_._3) == Seq("head", "head", "head", "tail"),
      tied.mkString(", "))
  }

  test("scoreBuckets: quantization buckets by bin, NULL scores → unscored") {
    // quantStep 10: 95,91 share bin 9; 55 bin 5; 15,11 bin 1 — with 5
    // docs the bins cut at cumBefore {0,2,3}: (3·0)div5=0 head,
    // (3·2)div5=1 middle, (3·3)div5=1 middle
    val s = Seq((1L, Some(95L)), (2L, Some(91L)), (3L, Some(55L)),
      (4L, Some(15L)), (5L, Some(11L)), (6L, None))
      .toDF("doc_id", "s")
    val got = TextStats.scoreBuckets(s, "doc_id", "s", quantStep = 10L)
      .as[(Long, Option[Long], String)].collect().sortBy(_._1).toSeq
    assert(got.map(_._3) == Seq("head", "head", "middle", "middle",
      "middle", "unscored"), got.mkString(", "))
    // negative scores floor-quantize (−5 with step 10 → bin −1, below 0)
    val neg = Seq((1L, 5L), (2L, -5L)).toDF("doc_id", "s")
    val nb = TextStats.scoreBuckets(neg, "doc_id", "s", quantStep = 10L,
        labels = Seq("hi", "lo"))
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(nb.map(_._3) == Seq("hi", "lo"), nb.mkString(", "))
  }

  test("scoreBuckets: generic label arity, empty input, loud bin census") {
    val s = (1L to 8L).map(i => (i, i)).toDF("doc_id", "s")
    val quart = TextStats.scoreBuckets(s, "doc_id", "s", quantStep = 1L,
        labels = Seq("q1", "q2", "q3", "q4"))
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(quart.map(_._3) == Seq("q4", "q4", "q3", "q3", "q2", "q2",
      "q1", "q1"), quart.mkString(", "))
    // all-NULL input: total 0 → every doc unscored, no div-by-zero
    val allNull = Seq((1L, None: Option[Long])).toDF("doc_id", "s")
    val un = TextStats.scoreBuckets(allNull, "doc_id", "s")
      .as[(Long, Option[Long], String)].collect().toSeq
    assert(un == Seq((1L, None, "unscored")), un.mkString(", "))
    // census: more bins than maxBins fails loudly with a quantStep hint
    val e = intercept[IllegalArgumentException] {
      TextStats.scoreBuckets(s, "doc_id", "s", quantStep = 1L, maxBins = 3L)
    }
    assert(e.getMessage.contains("raise quantStep"), e.getMessage)
    // reserved labels / columns
    val e2 = intercept[IllegalArgumentException] {
      TextStats.scoreBuckets(s, "doc_id", "s",
        labels = Seq("head", "unscored"))
    }
    assert(e2.getMessage.contains("unscored"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      TextStats.scoreBuckets(s.withColumnRenamed("s", "_sb_q"),
        "doc_id", "_sb_q")
    }
    assert(e3.getMessage.contains("reserves"), e3.getMessage)
  }

  test("pmiCollocations: exclusivity outranks raw frequency; exact Q20 scores") {
    // x/y co-occur ONLY with each other (2 times); a/b co-occur 10 times
    // but are individually common — PMI must rank (x,y) above (a,b),
    // the inversion of the raw-count ranking
    val docs = (Seq.fill(10)("a b") ++ Seq.fill(20)("a c") ++
      Seq.fill(20)("d b") ++ Seq.fill(2)("x y"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextStats.pmiCollocations(docs, "text", 1, 10)
      .as[(String, String, Long, Long)].collect()
    assert(got.head._1 == "x" && got.head._2 == "y", got.toSeq)
    // N = 104 tokens, P = 52 pairs: score(x,y) = 2^20·2·104² / (52·2·2)
    // = 104·2^20 exactly; score(a,b) = floor(2^20·10·104²/(52·30·30))
    assert(got.head._4 == 104L * 1048576L, got.head)
    val ab = got.find(p => p._1 == "a" && p._2 == "b").get
    val want = (BigInt(1048576) * 10 * 104 * 104 / (BigInt(52) * 30 * 30)).toLong
    assert(ab._3 == 10L && ab._4 == want, ab)
    assert(got.head._4 > ab._4, "exclusive pair must outrank frequent pair")
    // minCount floors out the rare pair entirely
    val floored = TextStats.pmiCollocations(docs, "text", 5, 10)
      .as[(String, String, Long, Long)].collect()
    assert(!floored.exists(_._1 == "x"), floored.toSeq)
    // k cuts on the (score desc, w1, w2) total order
    val top1 = TextStats.pmiCollocations(docs, "text", 1, 1)
      .as[(String, String, Long, Long)].collect()
    assert(top1.length == 1 && top1.head._1 == "x")
    intercept[IllegalArgumentException](
      TextStats.pmiCollocations(docs, "text", 0, 10))
  }

  test("charEntropyQ8: exact Q8 entropy — degenerate 0, uniform log2(k)·256, BigInt replay") {
    val docs = Seq(
      (1L, "aaaa"),            // one symbol -> H = 0
      (2L, "ab"),              // uniform 2 -> H = 1 bit = 256 Q8
      (3L, "abcdabcd"),        // uniform 4 -> H = 2 bits = 512 Q8
      (4L, "aab"),             // skewed 3-char case, replayed below
      (5L, ""),                // empty: no distribution -> absent
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextStats.charEntropyQ8(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L),
      s"empty/null docs must be absent: ${got.toSeq}")
    val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(1L) == ((4L, 0L)))
    assert(byId(2L) == ((2L, 256L)))
    assert(byId(3L) == ((8L, 512L)))
    // independent replay of the exact integer formula for "aab":
    // (n·lq(n) − Σ c·lq(c)) div n with the engine's own log2q8Long
    val expected4 = {
      val n = 3L
      val sc = 2L * Unigram.log2q8Long(2L) + 1L * Unigram.log2q8Long(1L)
      (n * Unigram.log2q8Long(n) - sc) / n
    }
    assert(byId(4L) == ((3L, expected4)), s"got ${byId(4L)}, want $expected4")
    // and the Q8 value sits within one step of the float entropy
    val hFloat = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) /
      math.log(2)
    assert(math.abs(byId(4L)._2 - hFloat * 256).abs <= 2.0)
  }
  test("distributionDriftQ8: hand-quantized JSD vs the log2q8Long driver replay, guards") {
    import graft.ext.Unigram.log2q8Long
    // A: x:3 y:1 (N=4); B: x:1 z:1 (N=2). pq: x 786432, y 262144;
    // qq: x 524288, z 524288. One-sided tokens contribute exactly
    // mass*256 (the log-of-2 bit); the shared token's terms come from
    // the SAME integer log chain the engine runs.
    val a = Seq(("k", "x", 3L), ("k", "y", 1L)).toDF("g", "tok", "c")
    val b = Seq(("k", "x", 1L), ("k", "z", 1L)).toDF("g", "tok", "c")
    val sp = BigInt(786432) * (log2q8Long(1572864) - log2q8Long(1310720)) +
      BigInt(262144) * 256
    val sq = BigInt(524288) * (log2q8Long(1048576) - log2q8Long(1310720)) +
      BigInt(524288) * 256
    def fd(n: BigInt, d: Long): Long = ((n - (((n % d) + d) % d)) / d).toLong
    val got = TextStats.distributionDriftQ8(a, b, Seq("g"), "tok", "c")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(("k", 4L, 2L, 2L, 2L,
      fd(sp, 1L << 20), fd(sq, 1L << 20), fd(sp + sq, 1L << 21))),
      got.toString)
    // identical releases -> zero drift everywhere
    val same = TextStats.distributionDriftQ8(a, a, Seq("g"), "tok", "c")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    assert((same._6, same._7, same._8) == ((0L, 0L, 0L)), same.toString)
    // non-positive and fractional counts raise per row
    intercept[Exception] {
      TextStats.distributionDriftQ8(
        Seq(("k", "x", 0L)).toDF("g", "tok", "c"), b, Seq("g"), "tok", "c")
        .collect()
    }
    intercept[Exception] {
      TextStats.distributionDriftQ8(
        Seq(("k", "x", 1.5)).toDF("g", "tok", "c"), b, Seq("g"), "tok", "c")
        .collect()
    }
    intercept[IllegalArgumentException] {
      TextStats.distributionDriftQ8(a, b, Nil, "tok", "c")
    }
  }
  test("psiDriftQ8: hand-quantized PSI, one-sided mass reported, alert threshold") {
    import graft.ext.Unigram.log2q8Long
    // same releases as the JSD fixture: A x:3 y:1 (N=4), B x:1 z:1
    // (N=2). Only x is two-sided: term (786432-524288)·Δlq; y and z
    // are EXCLUDED from PSI (epsilon-free) and their quantized mass
    // reported per side. True PSI = 0.25·log2(1.5) ≈ 0.146 bits ≈ 37
    // Q8 — over the conventional 32 Q8 "investigate" line, so alert=1.
    val a = Seq(("k", "x", 3L), ("k", "y", 1L)).toDF("g", "tok", "c")
    val b = Seq(("k", "x", 1L), ("k", "z", 1L)).toDF("g", "tok", "c")
    val s = BigInt(786432 - 524288) *
      (log2q8Long(786432) - log2q8Long(524288))
    val psi = (s / (1L << 20)).toLong
    assert(psi >= 36 && psi <= 38, s"fixture PSI far from 0.146 bits: $psi")
    val got = TextStats.psiDriftQ8(a, b, Seq("g"), "tok", "c", 32L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(("k", 4L, 2L, 1L, 262144L, 524288L, psi, 1L)),
      got.toString)
    // identical releases: zero PSI, zero one-sided mass, no alert even
    // at the lowest positive threshold
    val same = TextStats.psiDriftQ8(a, a, Seq("g"), "tok", "c", 1L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    assert((same._4, same._5, same._6, same._7, same._8)
      == ((2L, 0L, 0L, 0L, 0L)), same.toString)
    // contracts ride driftQuantized: non-positive counts raise per row;
    // a negative threshold is rejected up front
    intercept[Exception] {
      TextStats.psiDriftQ8(Seq(("k", "x", 0L)).toDF("g", "tok", "c"), b,
        Seq("g"), "tok", "c", 32L).collect()
    }
    intercept[IllegalArgumentException] {
      TextStats.psiDriftQ8(a, b, Seq("g"), "tok", "c", -1L)
    }
  }
  test("psiNumericQ8: floor-binned values compose onto psiDriftQ8; negative bins exact; guards") {
    // binWidth 64: A values {0, 1 -> bin 0; 130 -> bin 2; -5 -> bin -1},
    // B values {0 -> bin 0; 70 -> bin 1; 140 -> bin 2}. The composition
    // contract: identical to psiDriftQ8 over the hand-binned counts.
    val av = Seq(("k", 0L), ("k", 1L), ("k", 130L), ("k", -5L)).toDF("g", "v")
    val bv = Seq(("k", 0L), ("k", 70L), ("k", 140L)).toDF("g", "v")
    val got = TextStats.psiNumericQ8(av, bv, Seq("g"), "v", 64L, 1L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val handBinnedA = Seq(("k", 0L, 2L), ("k", 2L, 1L), ("k", -1L, 1L))
      .toDF("g", "bin", "c")
    val handBinnedB = Seq(("k", 0L, 1L), ("k", 1L, 1L), ("k", 2L, 1L))
      .toDF("g", "bin", "c")
    val want = TextStats.psiDriftQ8(handBinnedA, handBinnedB, Seq("g"),
        "bin", "c", 1L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == want, s"got=$got want=$want")
    // n_a counts VALUES (4 and 3), common bins = {0, 2}
    assert(got.head._2 == 4L && got.head._3 == 3L && got.head._4 == 2L,
      got.toString)
    // fractional values raise per row
    intercept[Exception] {
      TextStats.psiNumericQ8(Seq(("k", 1.5)).toDF("g", "v"), bv,
        Seq("g"), "v", 64L, 1L).collect()
    }
    intercept[IllegalArgumentException] {
      TextStats.psiNumericQ8(av, bv, Seq("g"), "v", 0L, 1L)
    }
  }
  test("ksDriftQ20: hand-computed CDF gap, one-sided NULL, negative bins, guards") {
    // binWidth 64, key k: A {0,1 -> b0; 130 -> b2} (n=3),
    // B {0 -> b0; 70 -> b1} (n=2). Cumulatives over sorted bins:
    // b0 (2,1) gap |2·2-1·3|=1; b1 (2,2) gap |4-6|=2; b2 (3,2) gap 0.
    // KS = 2/(3·2) = 1/3 -> floor(2^20/3) = 349525. Key m is one-sided
    // (B empty) -> ks NULL, alert 0 (never a fake extreme).
    val av = Seq(("k", 0L), ("k", 1L), ("k", 130L), ("m", 7L))
      .toDF("g", "v")
    val bv = Seq(("k", 0L), ("k", 70L)).toDF("g", "v")
    val got = TextStats.ksDriftQ20(av, bv, Seq("g"), "v", 64L, 349525L)
      .as[(String, Long, Long, Long, Option[Long], Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("k", 3L, 2L, 3L, Some(349525L), 1L),
      ("m", 1L, 0L, 1L, None, 0L)), got.toString)
    // one tick above the statistic: alert drops
    val above = TextStats.ksDriftQ20(av, bv, Seq("g"), "v", 64L, 349526L)
      .filter($"g" === "k").as[(String, Long, Long, Long, Option[Long], Long)]
      .collect().head
    assert(above._6 == 0L, above.toString)
    // identical sides: KS exactly 0
    val same = TextStats.ksDriftQ20(av, av, Seq("g"), "v", 64L, 1L)
      .filter($"g" === "k").as[(String, Long, Long, Long, Option[Long], Long)]
      .collect().head
    assert(same._5.contains(0L) && same._6 == 0L, same.toString)
    // negative values floor-bin (the psiNumericQ8 correction): A {-5, 0}
    // -> bins {-1, 0}; B {0}. Gap at b-1: |1·1-0·2| = 1 -> KS = 1/2.
    val neg = TextStats.ksDriftQ20(
        Seq(("k", -5L), ("k", 0L)).toDF("g", "v"),
        Seq(("k", 0L)).toDF("g", "v"), Seq("g"), "v", 64L, 1L)
      .as[(String, Long, Long, Long, Option[Long], Long)].collect().head
    assert(neg._5.contains(524288L), neg.toString)
    // fractional values raise per row; structural guards up front
    intercept[Exception] {
      TextStats.ksDriftQ20(Seq(("k", 1.5)).toDF("g", "v"), bv,
        Seq("g"), "v", 64L, 1L).collect()
    }
    intercept[IllegalArgumentException] {
      TextStats.ksDriftQ20(av, bv, Seq("g"), "v", 0L, 1L)
    }
    intercept[IllegalArgumentException] {
      TextStats.ksDriftQ20(av, bv, Nil, "v", 64L, 1L)
    }
    intercept[IllegalArgumentException] {
      TextStats.ksDriftQ20(av, bv, Seq("g"), "v", 64L, -1L)
    }
    intercept[IllegalArgumentException] {
      TextStats.ksDriftQ20(av.withColumnRenamed("g", "n_a"), bv,
        Seq("n_a"), "v", 64L, 1L)
    }
  }
  test("wassersteinDriftQ20: exact transport cost, sparse-gap persistence, identical 0, one-sided NULL") {
    // the KS fixture: A bins {0:2, 2:1} (n=3), B bins {0:1, 1:1} (n=2).
    // Segments: [0,1) gap |4-3|=1; [1,2) gap |4-6|=2; last bin 0.
    // S = 3 -> W1 = 3/6 bins = 0.5 bins = 32 value units at width 64
    // -> w1_q20 = 32 * 2^20 = 33554432.
    val av = Seq(("k", 0L), ("k", 1L), ("k", 130L)).toDF("g", "v")
    val bv = Seq(("k", 0L), ("k", 70L)).toDF("g", "v")
    val got = TextStats.wassersteinDriftQ20(av, bv, Seq("g"), "v", 64L)
      .as[(String, Long, Long, Option[Long])].collect().head
    assert(got == (("k", 3L, 2L, Some(33554432L))), got.toString)
    // the gap PERSISTS across unobserved bins: one point at 0 vs one at
    // 640 (bins 0 and 10) must cost exactly 640 units, not 64
    val far = TextStats.wassersteinDriftQ20(
        Seq(("k", 0L)).toDF("g", "v"), Seq(("k", 640L)).toDF("g", "v"),
        Seq("g"), "v", 64L)
      .as[(String, Long, Long, Option[Long])].collect().head
    assert(far._4.contains(640L * 1048576L), far.toString)
    // identical sides: zero transport; one-sided key: NULL
    val same = TextStats.wassersteinDriftQ20(av, av, Seq("g"), "v", 64L)
      .as[(String, Long, Long, Option[Long])].collect().head
    assert(same._4.contains(0L), same.toString)
    val oneSided = TextStats.wassersteinDriftQ20(
        Seq(("m", 7L)).toDF("g", "v"), bv, Seq("g"), "v", 64L)
      .filter($"g" === "m")
      .as[(String, Long, Long, Option[Long])].collect().head
    assert(oneSided._4.isEmpty, oneSided.toString)
    // FromBins shard re-sum == one-shot (the mergeable-bin contract)
    val sh1 = TextStats.floorBinCounts(
      Seq(("k", 0L), ("k", 1L)).toDF("g", "v"), Seq("g"), "v", 64L,
      "c", "spec")
    val sh2 = TextStats.floorBinCounts(
      Seq(("k", 130L)).toDF("g", "v"), Seq("g"), "v", 64L, "c", "spec")
    val merged = sh1.unionByName(sh2)
      .groupBy($"g", $"_ks_bin").agg(sum($"c").as("c"))
    val viaBins = TextStats.wassersteinFromBins(merged,
        TextStats.floorBinCounts(bv, Seq("g"), "v", 64L, "c", "spec"),
        Seq("g"), "_ks_bin", "c", unitsPerBin = 64L)
      .as[(String, Long, Long, Option[Long])].collect().head
    assert(viaBins == got, s"viaBins=$viaBins one=$got")
    intercept[IllegalArgumentException] {
      TextStats.wassersteinDriftQ20(av, bv, Nil, "v", 64L)
    }
    intercept[IllegalArgumentException] {
      TextStats.wassersteinFromBins(merged, merged, Seq("g"),
        "_ks_bin", "c", unitsPerBin = 0L)
    }
  }
  test("cliffsDeltaQ20: signed dominance, exact +-2^20 pins, bin-tie neutrality, one-sided NULL") {
    // binWidth 64. Full dominance: A {130, 200} (bins 2, 3) vs
    // B {0, 70} (bins 0, 1) -> every cross pair greater -> +2^20;
    // swapping sides reads exactly -2^20 (the positive-mod floor).
    val hi = Seq(("k", 130L), ("k", 200L)).toDF("g", "v")
    val lo = Seq(("k", 0L), ("k", 70L)).toDF("g", "v")
    val up = TextStats.cliffsDeltaQ20(hi, lo, Seq("g"), "v", 64L)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    assert(up == (("k", 2L, 2L, 4L, 0L, Some(1048576L))), up.toString)
    val dn = TextStats.cliffsDeltaQ20(lo, hi, Seq("g"), "v", 64L)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    assert(dn == (("k", 2L, 2L, 0L, 4L, Some(-1048576L))), dn.toString)
    // partial dominance: A bins {0,2,3} vs B bin {1,1}: gt=4, lt=2 ->
    // delta = 2/6 = 1/3 -> floor(2^20/3) = 349525
    val a3 = Seq(("k", 0L), ("k", 130L), ("k", 200L)).toDF("g", "v")
    val b2 = Seq(("k", 70L), ("k", 70L)).toDF("g", "v")
    val part = TextStats.cliffsDeltaQ20(a3, b2, Seq("g"), "v", 64L)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    assert(part == (("k", 3L, 2L, 4L, 2L, Some(349525L))), part.toString)
    // identical sides: within-bin pairs are ties, the cross-bin pair
    // counts once each way -> gt = lt = 1, delta exactly 0
    val same = TextStats.cliffsDeltaQ20(hi, hi, Seq("g"), "v", 64L)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    assert((same._4, same._5, same._6) == ((1L, 1L, Some(0L))),
      same.toString)
    // one-sided key: NULL, never a fake +-2^20
    val oneSided = TextStats.cliffsDeltaQ20(
        Seq(("m", 7L)).toDF("g", "v"), lo, Seq("g"), "v", 64L)
      .filter($"g" === "m")
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    assert(oneSided._6.isEmpty, oneSided.toString)
    // shard re-sum == one-shot (the FromBins ingest contract)
    val sh1 = TextStats.floorBinCounts(
      Seq(("k", 0L)).toDF("g", "v"), Seq("g"), "v", 64L, "c", "spec")
    val sh2 = TextStats.floorBinCounts(
      Seq(("k", 130L), ("k", 200L)).toDF("g", "v"), Seq("g"), "v", 64L,
      "c", "spec")
    val merged = sh1.unionByName(sh2)
      .groupBy($"g", $"_ks_bin").agg(sum($"c").as("c"))
    val viaBins = TextStats.cliffsDeltaFromBins(merged,
        TextStats.floorBinCounts(b2, Seq("g"), "v", 64L, "c", "spec"),
        Seq("g"), "_ks_bin", "c")
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    assert(viaBins == part, s"viaBins=$viaBins one=$part")
    intercept[IllegalArgumentException] {
      TextStats.cliffsDeltaQ20(hi, lo, Nil, "v", 64L)
    }
    intercept[Exception] {
      TextStats.cliffsDeltaFromBins(
        Seq(("k", 0L, 0L)).toDF("g", "_ks_bin", "c"), merged,
        Seq("g"), "_ks_bin", "c").collect()
    }
  }
  test("mergeTokenCounts: staged-base + batch re-sum == one-shot counts (the x97b identity)") {
    val docs = Seq(
      ("k", "a a b"), ("k", "b c"), ("k", "a c c"), ("m", "a b")
    ).toDF("g", "t")
    def counts(df: org.apache.spark.sql.DataFrame) = df
      .select($"g", explode(split($"t", " ")).as("tok"))
      .groupBy($"g", $"tok").agg(count(lit(1)).as("c"))
    val oneShot = counts(docs).orderBy("g", "tok")
      .as[(String, String, Long)].collect().toSeq
    val merged = TextStats.mergeTokenCounts(Seq(
        graft.ops.Stage(counts(docs.limit(2))),
        counts(docs.except(docs.limit(2)))),
      Seq("g"), "tok", "c").orderBy("g", "tok")
      .as[(String, String, Long)].collect().toSeq
    assert(merged == oneShot, s"merged=$merged oneShot=$oneShot")
  }
}
