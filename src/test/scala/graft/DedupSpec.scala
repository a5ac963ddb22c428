package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operators: exact groups, MinHash-LSH recall vs brute-force
  * Jaccard, SimHash candidate generation. The hash families are
  * deterministic (md5 / xxhash64 over a fixed corpus), so these are exact
  * assertions, not statistical ones. Each operator is driven in the form
  * the catalog runs: over a signature or occurrence frame.
  */
class DedupSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  /** 60-token base docs; near-dups differ in one token (shingle Jaccard
    * ≈ 57/63 ≈ 0.90), distinct docs share nothing.
    */
  private def corpus = {
    def doc(seed: Int, tweak: Int = -1) =
      (0 until 60).map(t => if (t == tweak) s"X${seed}_$t" else s"w${seed}_$t").mkString(" ")
    val rows =
      (0 until 8).flatMap { c =>
        Seq((c * 10L, doc(c)), (c * 10L + 1, doc(c, tweak = 30))) // near-dup pair
      } ++
        (100 until 110).map(i => (i.toLong, doc(i))) ++ // singletons
        Seq((200L, doc(0)), (201L, doc(0))) // exact dups of cluster 0's base
    rows.toDF("doc_id", "text")
  }

  test("exactGroups collapses identical texts") {
    val g = Dedup.exactGroups(corpus, "doc_id", "text").cache()
    assert(g.count() == 28 - 2) // 28 docs; ids 0/200/201 share one text
    assert(g.filter(col("n_dups") === 3).count() == 1)
    assert(g.filter(col("n_dups") === 3).head().getAs[Long]("keep_id") == 0L)
    g.unpersist()
  }

  test("exactGroupsKeepLongest keeps the longest member, lowest id on ties") {
    val docs = Seq(
      (1L, "same text"), (2L, "same text"), // tie -> keep 1
      (10L, "solo")).toDF("doc_id", "text")
    val got = Dedup.exactGroupsKeepLongest(docs, "doc_id", "text")
      .select("keep_id", "n_dups", "keep_len")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 9L), (10L, 1L, 4L)))
    // different lengths hash differently (exact dedup groups identical
    // text only) — the policy matters when applied to near-dup CLUSTERS:
    // pick the longest member of a cluster id set
    val cluster = Seq((1L, "short"), (2L, "a much longer version"), (3L, "short"))
      .toDF("doc_id", "text")
    val longest = Dedup.exactGroupsKeepLongest(cluster, "doc_id", "text")
      .orderBy(col("keep_len").desc).head().getAs[Long]("keep_id")
    assert(longest == 2L)
  }

  test("minhash LSH recall >= 0.9 against brute-force Jaccard >= 0.8") {
    val truth = Dedup.bruteForceJaccardPairs(corpus, "doc_id", "text", 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture must contain true near-dup pairs")
    val candidates = Dedup.minhashPairs(corpus, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    val recall = truth.count(candidates.contains).toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall over ${truth.size} true pairs")
    // candidates stay bounded: no all-pairs explosion over 26 docs
    assert(candidates.size < 26 * 25 / 4)
  }

  test("prefix-filter Jaccard join == brute force at several thresholds") {
    // thresholds straddle the fixture's similarity bands (exact dups 1.0,
    // near-dups ~0.90, everything else 0) plus a mid-band doc pair built
    // here with J ≈ 0.5, so each τ prunes a DIFFERENT prefix length and
    // the equality is exercised where pruning actually bites
    val mid = Seq(
      (300L, (0 until 30).map(i => s"m_$i").mkString(" ")),
      (301L, (10 until 40).map(i => s"m_$i").mkString(" "))) // share 20/40 tokens
    val docs = corpus.union(mid.toDF("doc_id", "text"))
    for (tau <- Seq("0.3", "0.7", "0.95")) {
      val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", BigDecimal(tau))
        .select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val want = Dedup.bruteForceJaccardPairs(docs, "doc_id", "text", tau.toDouble)
        .select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(want.nonEmpty, s"fixture must have pairs at tau=$tau")
      assert(got == want, s"tau=$tau: prefix filtering must be exact")
    }
    // boundary exactness: a pair at EXACTLY J = τ must survive. 19-token
    // docs sharing their first 16 tokens: 17 shingles each, 14 shared ->
    // J = 14/(17+17-14) = 0.7 exactly. Float prefix math (0.7*17 =
    // 11.899999999999999 vs 11.9) is where a naive ceil can shorten a
    // prefix and silently drop such a pair; the decimal arithmetic must not.
    val shared = (0 until 16).map(i => s"c_$i")
    val edge = Seq(
      (400L, (shared ++ Seq("a1", "a2", "a3")).mkString(" ")),
      (401L, (shared ++ Seq("b1", "b2", "b3")).mkString(" "))).toDF("doc_id", "text")
    val e = Dedup.prefixJaccardPairs(edge, "doc_id", "text", BigDecimal("0.7"))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(e.toSeq == Seq((400L, 401L, 0.7)))
  }

  test("prefix-filter Jaccard join == brute force on random corpora (seeded)") {
    // randomized corpora with a small token alphabet force dense partial
    // overlaps at EVERY similarity level — the regime where the PPJoin
    // index-prefix and positional filters do the most pruning and any
    // unsoundness (a dropped witness row) would surface as a missing pair
    for (seed <- Seq(7, 42)) {
      val rnd = new scala.util.Random(seed)
      // random base docs, each with 0-2 mutated variants (one token
      // substituted / dropped / appended at a random position) — variant
      // similarity spreads across the whole (0, 1) range as doc lengths
      // vary, instead of clustering at hand-picked bands
      val docs = (0 until 20).flatMap { b =>
        val base = Vector.fill(8 + rnd.nextInt(18))(s"t${rnd.nextInt(50)}")
        val variants = (0 until rnd.nextInt(3)).map { v =>
          rnd.nextInt(3) match {
            case 0 => base.updated(rnd.nextInt(base.length), s"x${b}_$v")
            case 1 => base.patch(rnd.nextInt(base.length), Nil, 1)
            case _ => base :+ s"x${b}_$v"
          }
        }
        base +: variants
      }.zipWithIndex
        .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      for (tau <- Seq("0.3", "0.5", "0.8")) {
        val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", BigDecimal(tau))
          .select("doc_a", "doc_b", "jaccard")
          .as[(Long, Long, Double)].collect().toSet
        val want = Dedup.bruteForceJaccardPairs(docs, "doc_id", "text", tau.toDouble)
          .select("doc_a", "doc_b", "jaccard")
          .as[(Long, Long, Double)].collect().toSet
        assert(want.nonEmpty, s"seed=$seed tau=$tau: fixture must have pairs")
        assert(got == want,
          s"seed=$seed tau=$tau: missing=${(want -- got).take(5)}, extra=${(got -- want).take(5)}")
      }
    }
  }

  test("jaccardForPairs computes exact overlap") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("doc_id", "text")
    val sh = Dedup.shingleSet(docs, "doc_id", "text")
    val j = Dedup.jaccardForPairs(sh, "doc_id", Seq((1L, 2L)).toDF("doc_a", "doc_b"))
      .head().getAs[Double]("jaccard")
    // 4 shingles each, 3 shared -> 3/5
    assert(math.abs(j - 0.6) < 1e-12)
  }

  test("overlapCoefficientPairs flags a contained quote that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon"
    val long = short + " zeta eta theta iota kappa lambda mu nu xi " +
      "omicron pi rho sigma tau upsilon phi chi psi omega one two three"
    val docs = Seq((1L, short), (2L, long), (3L, "totally different words here now"))
      .toDF("doc_id", "text")
    val over = Dedup.overlapCoefficientPairs(docs, "doc_id", "text", 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every shingle of the short doc appears in the long one -> C = 1
    assert(over.keySet == Set((1L, 2L)), s"got $over")
    assert(math.abs(over((1L, 2L)) - 1.0) < 1e-12)
    // the same pair fails a Jaccard 0.5 gate (3/26 shared of the union)
    val sh = Dedup.shingleSet(docs, "doc_id", "text")
    val j = Dedup.jaccardForPairs(sh, "doc_id", Seq((1L, 2L)).toDF("doc_a", "doc_b"))
      .head().getAs[Double]("jaccard")
    assert(j < 0.5, s"jaccard $j should under-score the containment")
    // threshold guard
    intercept[IllegalArgumentException] {
      Dedup.overlapCoefficientPairs(docs, "doc_id", "text", 0.0)
    }
  }

  test("simhash: identical texts collide, near-dups become candidates") {
    val sh = Dedup.simhashPortable(corpus, "doc_id", "text")
    val h = sh.filter(col("doc_id").isin(0L, 200L, 201L))
      .select("simhash32").as[Long].collect()
    assert(h.distinct.length == 1, "identical text must produce identical simhash")

    val cand = Dedup.simhashCandidatesPortable(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    // exact duplicates have Hamming distance 0 -> all chunks shared
    assert(cand.contains((0L, 200L)) && cand.contains((200L, 201L)))
    // a 1-of-60-token change flips some of the 32 bits (each bit flips
    // when its ±1 vote margin is ≤ 2), so byte-chunk collisions are likely
    // but not certain per pair — require a majority of the 8 near-dup pairs
    val nearDupHits = (0 until 8).count(c => cand.contains((c * 10L, c * 10L + 1)))
    assert(nearDupHits >= 4, s"only $nearDupHits/8 near-dup pairs bucketed")
  }

  test("substring apply: retained text equals corpus minus brute-force-marked duplicated positions") {
    // richer corpus than `corpus`: add a pair sharing exactly ONE 8-token
    // phrase inside otherwise-unique 40-token docs, so the TRIM action is
    // exercised (the base corpus only produces drop/keep — its dups cover
    // ≥ half of every affected doc)
    val phrase = (0 until 8).map(t => s"shared_$t").mkString(" ")
    def uniq(seed: Int, n: Int) = (0 until n).map(t => s"u${seed}_$t")
    val extras = Seq(
      (300L, (uniq(300, 16) :+ phrase).mkString(" ") + " " + uniq(301, 16).mkString(" ")),
      (310L, (uniq(310, 16) :+ phrase).mkString(" ") + " " + uniq(311, 16).mkString(" ")))
      .toDF("doc_id", "text")
    val docsDf = corpus.unionByName(extras)
    val docs = docsDf.select("doc_id", "text").as[(Long, String)].collect()

    // brute force: count every 8-token window text corpus-wide, mark every
    // position covered by a window occurring >= 2 times, derive the policy
    val winCount = scala.collection.mutable.Map.empty[String, Int]
    for ((_, t) <- docs; w <- t.split(" ").sliding(8) if w.length == 8) {
      val k = w.mkString(" ")
      winCount(k) = winCount.getOrElse(k, 0) + 1
    }
    val expected = docs.map { case (id, t) =>
      val toks = t.split(" ")
      val marked = Array.fill(toks.length)(false)
      for {
        p <- 0 to toks.length - 8
        if winCount(toks.slice(p, p + 8).mkString(" ")) >= 2
        q <- p until p + 8
      } marked(q) = true
      val nDup = marked.count(identity).toLong
      val action =
        if (2 * nDup >= toks.length) "drop"
        else if (nDup > 0) "trim" else "keep"
      val clean =
        if (action == "drop") null
        else toks.zip(marked).collect { case (tok, false) => tok }.mkString(" ")
      (id, action, toks.length.toLong, nDup, clean)
    }.toSet
    assert(expected.exists(_._2 == "trim") && expected.exists(_._2 == "drop") &&
      expected.exists(_._2 == "keep"), "all three actions must be exercised")

    val got = Dedup.duplicatedSpanApply(
        docsDf, Dedup.spanOccurrences(docsDf, "doc_id", "text", 8),
        "doc_id", "text", l = 8)
      .as[(Long, String, Long, Long, String)].collect().toSet
    assert(got == expected,
      s"missing=${expected -- got}, extra=${got -- expected}")
  }

  test("portable simhash candidates: uncapped ⊇ Hamming≤3 brute force; cap only removes hot-bucket pairs") {
    // pigeonhole recall: with no bucket cap, every pair within Hamming
    // distance 3 of the 32-bit hash must surface as a candidate
    val hashes = Dedup.simhashPortable(corpus, "doc_id", "text")
      .select("doc_id", "simhash32").as[(Long, Long)].collect()
    val within3 = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val uncapped = Dedup.simhashCandidatesPortable(
        corpus, "doc_id", "text", maxBucket = Int.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(within3.subsetOf(uncapped),
      s"pigeonhole miss: ${within3 -- uncapped}")
    // the hot-bucket cap is a pure restriction: capped ⊆ uncapped, and
    // every surviving pair still shares at least one small-bucket chunk
    val capped = Dedup.simhashCandidatesPortable(
        corpus, "doc_id", "text", maxBucket = 8)
      .as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(uncapped))
    val byId = hashes.toMap
    assert(capped.forall { case (a, b) =>
      (0 until 4).exists(c => ((byId(a) >> (8 * c)) & 255) == ((byId(b) >> (8 * c)) & 255))
    })
  }

  test("incremental candidates == one-shot pairs: batch1-internal plus new-involving") {
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandKeysFromWide(
        Dedup.minhashWide(Dedup.shingleSet(df, "doc_id", "text"), "doc_id", 16),
        "doc_id", 16, 2)
    val batch1 = corpus.filter(col("doc_id") < 100)
    val all = bands(corpus)
    val oneShot = Dedup.candidatePairs(all, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(oneShot.nonEmpty)
    val internal = Dedup.candidatePairs(bands(batch1), "doc_id")
      .as[(Long, Long)].collect().toSet
    val incremental = Dedup.incrementalCandidatePairs(
        all, bands(corpus.filter(col("doc_id") >= 100)), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(internal.union(incremental) == oneShot,
      s"missing=${oneShot -- internal -- incremental}, " +
        s"extra=${internal.union(incremental) -- oneShot}")
    // the incremental side contains every pair involving a new doc
    assert(incremental.forall { case (a, b) => a >= 100 || b >= 100 })
  }

  test("dupClusters labels transitive chains with the component's min id") {
    // 1-2, 2-3 chain plus an isolated pair 10-11: 3 hops must collapse
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("mergeClusters == one-shot, including a new doc bridging two old clusters") {
    val oldPairs = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val oldLabels = Dedup.dupClusters(oldPairs)
    // new doc 5 bridges clusters {1,2} and {3,4}; new doc 20 starts a
    // fresh pair with old doc 11; old pair 10-11 is untouched
    val newPairs = Seq((2L, 5L), (5L, 3L), (11L, 20L)).toDF("doc_a", "doc_b")
    val merged = Dedup.mergeClusters(oldLabels, newPairs)
      .as[(Long, Long)].collect().toMap
    val oneShot = Dedup.dupClusters(oldPairs.union(newPairs))
      .as[(Long, Long)].collect().toMap
    assert(merged == oneShot)
    assert(merged(5L) == 1L && merged(4L) == 1L, "bridge must fuse both old clusters")
    assert(merged(20L) == 10L, "new member joins the old component's min id")
  }

  test("dupClusters and mergeClusters label a 50-doc chain with its min id, in both id orders") {
    Seq(false, true).foreach { reversed =>
      // consecutive ids along the chain are pairs; reversed, the min id
      // sits at the far end of the chain
      val ids = if (reversed) (50L to 1L by -1L) else (1L to 50L)
      val whole = ids.map(_ -> 1L).toMap
      val pairs = ids.zip(ids.tail).toDF("doc_a", "doc_b")
      assert(Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap == whole,
        s"reversed=$reversed")
      // first half already clustered; the second half (with the link
      // across the halves) arrives as new pairs
      val (oldIds, _) = ids.splitAt(25)
      val oldLabels = oldIds.map(_ -> oldIds.min).toDF("doc_id", "cluster")
      val rest = ids.drop(24)
      val merged = Dedup.mergeClusters(oldLabels, rest.zip(rest.tail).toDF("doc_a", "doc_b"))
      assert(merged.as[(Long, Long)].collect().toMap == whole, s"reversed=$reversed")
    }
  }

  test("dupClusters collapses a 1000-node chain") {
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, jobs) = Jobs.during(spark)(Dedup.dupClusters(chain))
    // pinned at the measured count (job counts do not depend on host
    // speed): pointer jumping converges here in 12 rounds, while
    // propagation without the jump needs ~1000
    assert(jobs.size <= 77, s"dupClusters ran ${jobs.size} jobs")
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.keySet == (1L to 1000L).toSet)
    assert(got.values.forall(_ == 1L), "whole chain is one component rooted at 1")
  }

  /** Min-id connected components by union-find: the independent
    * reference [[Dedup.dupClusters]] is checked against.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // the larger root joins the smaller, so every root is its set's min
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("dupClusters == a union-find reference on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def randomEdges(nodes: Long, edges: Int, seed: Long) = {
      val edgeGen = Gen.zip(Gen.chooseNum(1L, nodes), Gen.chooseNum(1L, nodes))
      (1 to edges)
        .map(i => edgeGen.pureApply(Gen.Parameters.default, Seed(seed * 100 + i)))
        .filter { case (a, b) => a != b }
    }
    val graphs =
      (1L to 3L).map(seed => s"random seed=$seed" -> randomEdges(25L, 30, seed)) ++
        Seq(10L, 20L).map(seed => s"sparse seed=$seed" -> randomEdges(400L, 300, seed)) :+
        ("star" -> (1L until 100L).map(leaf => (100L, leaf))) :+
        // an even cycle whose ids are scattered around it
        ("cycle" -> {
          val ring = (0L until 16L).map(i => (i * 5) % 16 + 1)
          ring.zip(ring.tail :+ ring.head)
        })
    graphs.foreach { case (name, es) =>
      val got = Dedup.dupClusters(es.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(es), name)
    }
  }

  test("contamination report flags leaked docs and clears clean ones") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "train"),
      (2L, "an entirely different training document about spark", "train"),
      // full leak: an exact copy of doc 1 landed in test
      (3L, "the quick brown fox jumps over the lazy dog", "test"),
      // partial leak: shares exactly one 5-gram window with doc 1
      (4L, "here the quick brown fox jumps again and again today", "test"),
      // clean: no 5-gram in common with any train doc
      (5L, "completely novel evaluation text with no overlap at all", "test"))
      .toDF("doc_id", "text", "split")
    val got = Dedup.contaminationReport(docs, "doc_id", "text", "split", n = 5)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val (n3, c3, _) = got(3L)
    assert(n3 == 5 && c3 == 5, s"exact copy must be fully contaminated: ${got(3L)}")
    val (_, c4, d4) = got(4L)
    assert(c4 == 1 && d4 == 1, s"one shared 5-gram window expected: ${got(4L)}")
    assert(got(5L)._2 == 0, s"clean doc flagged: ${got(5L)}")
  }

  test("simhashHammingPairs is exact vs brute force at arbitrary maxDist") {
    val sig = Dedup.simhashPortable(corpus, "doc_id", "text")
    val h = sig.as[(Long, Long)].collect().toMap
    def brute(d: Int) = (for {
      a <- h.keys; b <- h.keys if a < b
      dist = java.lang.Long.bitCount(h(a) ^ h(b)) if dist <= d
    } yield (a, b, dist.toLong)).toSet
    // 2, 4: chunk widths of 32/(d+1) are NOT integral — the balanced
    // boundaries must still give the exact all-pairs answer by pigeonhole
    Seq(2, 4, 6).foreach { d =>
      val got = Dedup.simhashHammingPairsFromSig(sig, "doc_id", maxDist = d)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == brute(d),
        s"d=$d: missing=${brute(d) -- got}, extra=${got -- brute(d)}")
    }
    // out-of-range distances are rejected, not silently mis-chunked
    intercept[IllegalArgumentException](
      Dedup.simhashHammingPairsFromSig(sig, "doc_id", maxDist = 32))
  }

  test("editDistancePairs equals brute-force levenshtein at d=1,2,3") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(identity)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(cur + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    // small alphabet + lengths 0..8 forces exact dups, empty strings
    // (the short bucket), and dense near-miss pairs around every d
    val rnd = new scala.util.Random(11)
    val strs = (0 until 70).map { i =>
      (i.toLong,
        (0 until rnd.nextInt(9)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }
    val df = strs.toDF("id", "s")
    for (d <- Seq(1, 2, 3)) {
      val want = (for {
        (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
        dist = lev(sa, sb) if dist <= d
      } yield (ia, ib, dist)).toSet
      // hotSegDf = 2 forces nearly every segment bucket through the
      // remainder re-key, so the refined path is exactness-stressed on
      // the same dense corpus as the plain one
      for (cap <- Seq(1024, 2)) {
        val got = Dedup.editDistancePairs(df, "id", "s", d, hotSegDf = cap)
          .as[(Long, Long, Int)].collect().toSet
        assert(got == want,
          s"d=$d cap=$cap: missing=${want -- got}, extra=${got -- want}")
      }
    }
    intercept[IllegalArgumentException](
      Dedup.editDistancePairs(df, "id", "s", maxDist = 0))
    intercept[IllegalArgumentException](
      Dedup.editDistancePairs(df, "id", "s", maxDist = 1, hotSegDf = 1))
  }

  test("editDistancePairs constant-prefix corpus: hot-segment refinement keeps candidates sub-quadratic, exactly") {
    // the adversarial shape from the r14 review: thousands of DISTINCT
    // values sharing one constant prefix that fully covers segment 0, so
    // the single-level join concentrates every value into one bucket
    val rnd = new scala.util.Random(23)
    val pre = "CONSTANTPREFIX00" // 16 chars == segment 0 at d=1, len 32
    val n = 600
    val bases = (0 until n).map { i =>
      (i.toLong, pre + (0 until 16).map(_ => ('0' + rnd.nextInt(10)).toChar).mkString)
    }
    // planted true pairs: suffix-edited twins (found via the HOT segment-0
    // witness, i.e. through the refined path) and one prefix-edited twin
    // (found via its cold suffix bucket)
    val suffixTwins = (0 until 10).map { i =>
      val (_, s) = bases(i * 37)
      (1000L + i, s.updated(20 + i % 12, 'X'))
    }
    val prefixTwin = Seq((2000L, bases(5)._2.updated(3, 'Z')))
    val all = bases ++ suffixTwins ++ prefixTwin
    val df = all.toDF("id", "s")

    val unrefined = Dedup.editDistanceValuePairs(df, "id", "s", 1, 0).count()
    val refined = Dedup.editDistanceValuePairs(df, "id", "s", 1, 8).count()
    assert(unrefined > n.toLong * n / 4,
      s"corpus not adversarial: single-level candidates only $unrefined")
    assert(refined < 8L * all.size,
      s"refined candidates $refined not sub-quadratic (unrefined $unrefined)")

    val got = Dedup.editDistancePairs(df, "id", "s", 1, hotSegDf = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      if sa.length == sb.length && sa.zip(sb).count { case (x, y) => x != y } <= 1
    } yield (ia, ib)).toSet // equal lengths: ED<=1 == Hamming<=1
    assert(want.size >= 11, s"planted pairs missing from brute force: $want")
    assert(got == want,
      s"missing=${want -- got}, extra=${got -- want}")
  }

  test("portable simhash: near-dups are close in Hamming distance, strangers far") {
    val h = Dedup.simhashPortable(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(h(a) ^ h(b))
    assert(dist(0L, 200L) == 0, "identical texts must hash identically")
    val near = (0 until 8).map(c => dist(c * 10L, c * 10L + 1))
    val far = dist(0L, 100L)
    assert(near.forall(_ <= 12), s"near-dup distances $near exceed 12/32 bits")
    assert(far >= 8, s"unrelated docs only $far bits apart")
  }

  test("duplicated-span index and coverage: exact windows, merged islands, within-doc repeats") {
    // doc1/doc2 share the 5-token run "a b c d e" (3 overlapping 3-token
    // windows each — must merge to ONE island of 5 covered tokens);
    // doc3 is clean; doc4 is pure self-repetition ("m m m" at pos 0 and 1
    // — suffix-array semantics count within-doc duplication too).
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "x a b c d e y"),
      (3L, "p q r s t u v"),
      (4L, "m m m m")).toDF("doc_id", "text")

    val occ = Dedup.spanOccurrences(docs, "doc_id", "text", l = 3)
    val idx = Dedup.duplicatedSpanIndexFromOcc(occ, "doc_id")
      .as[(String, Long, Long)].collect().toSet
    val expectedGrams = Map(
      "a b c" -> (2L, 2L), "b c d" -> (2L, 2L), "c d e" -> (2L, 2L),
      "m m m" -> (2L, 1L))
    val expectedIdx = expectedGrams.map { case (g, (occ, nd)) =>
      (java.security.MessageDigest.getInstance("MD5").digest(g.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString, occ, nd)
    }.toSet
    assert(idx == expectedIdx)

    val cov = Dedup.duplicatedSpanCoverageFromOcc(docs, occ, "doc_id", "text", l = 3)
      .as[(Long, Long, Long)].collect()
      .map { case (id, nt, nd) => id -> ((nt, nd)) }.toMap
    assert(cov == Map(
      1L -> (7L, 5L), // island [0,5): a b c d e; f g clean
      2L -> (7L, 5L), // island [1,6): same run, shifted
      3L -> (7L, 0L), // clean doc still reported, zero coverage
      4L -> (4L, 4L)) // overlapping self-repeats merge to the whole doc
    )
  }

  test("incremental span maintenance: store + new batch == one-shot, incl. new-vs-new dups") {
    // history: docs 1-2 (share "a b c"); batch: doc 10 duplicates a
    // history span, docs 11/12 duplicate each other in a span history
    // never saw (new-vs-new), doc 13 is clean
    val history = Seq(
      (1L, "a b c d e"),
      (2L, "z a b c w")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "q a b c r"),
      (11L, "n1 n2 n3 n4"),
      (12L, "m0 n1 n2 n3"),
      (13L, "u v w x y")).toDF("doc_id", "text")
    val inc = Dedup.incrementalDuplicatedSpans(
        Dedup.spanCountStoreFromOcc(
          Dedup.spanOccurrences(history, "doc_id", "text", l = 3)),
        Dedup.spanOccurrences(batch, "doc_id", "text", l = 3))
      .as[(String, Long, Long)].collect().toSet

    // one-shot over the full corpus, restricted to spans the batch touches
    val full = history.unionByName(batch)
    val oneShot = Dedup.duplicatedSpanIndexFromOcc(
      Dedup.spanOccurrences(full, "doc_id", "text", l = 3), "doc_id")
    val batchKeys = Dedup.spanOccurrences(batch, "doc_id", "text", l = 3)
      .groupBy(col("span_h")).agg(count(lit(1)).cast("long").as("n_new"))
    val expected = oneShot.join(batchKeys, Seq("span_h"))
      .select(col("span_h"), col("n_occ"), col("n_new"))
      .as[(String, Long, Long)].collect().toSet
    assert(inc == expected)
    // the batch surfaced both kinds: a history span re-hit and a
    // new-vs-new span history never saw
    assert(inc.exists { case (_, occ, nw) => occ == 3L && nw == 1L }) // "a b c"
    assert(inc.exists { case (_, occ, nw) => occ == 2L && nw == 2L }) // "n1 n2 n3"
  }

  test("editDistancePairs on a skew corpus: exact-dup explosion stays value-grain") {
    // 400 docs over only 8 distinct values: doc-grain candidate
    // generation would square (every doc of a value hits every other
    // through each of the value's segment buckets — ~400²·probes join
    // rows); value-grain generation sees 8 values, and the n² output
    // pairs of the 200-doc value materialize only in the expansion join
    // (the output's own size).
    val vals = Seq("abcde", "abcdx", "abzde", "qrstu", "qrstv", "zz", "z", "")
    val docs = ((0 until 200).map(i => (i.toLong, vals(0))) ++ // 200 exact dups
      (200 until 400).map(i => (i.toLong, vals((i % 7) + 1))))
      .toDF("id", "s")
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(identity)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(cur + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val byId = docs.as[(Long, String)].collect()
    for (d <- Seq(1, 2)) {
      val got = Dedup.editDistancePairs(docs, "id", "s", d)
        .as[(Long, Long, Int)].collect().toSet
      val want = (for {
        (ia, sa) <- byId; (ib, sb) <- byId if ia < ib
        dist = lev(sa, sb) if dist <= d
      } yield (ia, ib, dist)).toSet
      assert(got.size == want.size && got == want,
        s"d=$d: missing=${(want -- got).take(5)}, extra=${(got -- want).take(5)}")
      // the 200-dup value alone contributes C(200,2) dist-0 pairs — the
      // skew really is quadratic in the OUTPUT, which is the floor
      assert(want.count(_._3 == 0) >= 199 * 100)
    }
  }

  test("no dedup pair generator aggregates an uncapped id array") {
    // the scale contract behind the bucket equi-join shape: a
    // collect_set/collect_list whose group key is a BUCKET (band, chunk,
    // segment…) materializes a whole bucket as one aggregation row and
    // OOMs on adversarial corpora. Per-doc lists (grouped by the doc id)
    // are bounded by one document's own data and stay legal.
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def assertNoBucketCollects(df: org.apache.spark.sql.DataFrame,
        perRecordKeys: Set[String], label: String): Unit =
      df.queryExecution.analyzed.foreach {
        case agg: Aggregate =>
          val collects = agg.aggregateExpressions.flatMap(_.collect {
            case c: CollectSet => c: Any
            case c: CollectList => c: Any
          })
          if (collects.nonEmpty) {
            val groupNames = agg.groupingExpressions
              .flatMap(_.collect { case a: Attribute => a.name }).toSet
            assert(groupNames.intersect(perRecordKeys).nonEmpty,
              s"$label: uncapped id-array aggregation grouped by $groupNames")
          }
        case _ =>
      }
    val sh = Dedup.shingleSet(corpus, "doc_id", "text")
    assertNoBucketCollects(
      Dedup.candidatePairs(
        Dedup.bandKeysFromWide(Dedup.minhashWide(sh, "doc_id", 8), "doc_id", 8, 2),
        "doc_id"),
      Set("doc_id"), "candidatePairs")
    assertNoBucketCollects(
      Dedup.simhashCandidatesPortable(corpus, "doc_id", "text"), Set("doc_id"),
      "simhashCandidatesPortable")
    assertNoBucketCollects(
      Dedup.simhashHammingPairsFromSig(
        Dedup.simhashPortable(corpus, "doc_id", "text"), "doc_id", maxDist = 2),
      Set("doc_id"), "simhashHammingPairsFromSig")
    assertNoBucketCollects(
      Dedup.prefixJaccardPairs(corpus, "doc_id", "text", BigDecimal("0.7")),
      Set("doc_id"), "prefixJaccardPairs")
    assertNoBucketCollects(
      Dedup.editDistancePairs(
        Seq((1L, "abc"), (2L, "abd")).toDF("id", "s"), "id", "s", 1),
      Set("id", "__id", "__s"), "editDistancePairs")
  }
}
