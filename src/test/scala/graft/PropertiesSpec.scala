package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Cleaning
import graft.model.Constants
import graft.operators.{QualityChecks, Scd2, Surrogates}

/** Property-based invariants (SURVEY.md §5) over scalacheck generators
  * sampled at fixed seeds (deterministic, no scalatest-plus bridge):
  * cleaning idempotence, SCD2 single-active-version under arbitrary
  * batches, surrogate density.
  */
class PropertiesSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(12).mkString)

  test("suffix strips are idempotent and prefix-preserving") {
    val cases = samples(Gen.zip(word, word), 25)
    val df = cases.toDF("a", "b")
      .withColumn("once", Cleaning.stripHashSuffix(concat_ws("#", col("a"), col("b"))))
    val out = df
      .withColumn("twice", Cleaning.stripHashSuffix(col("once")))
      .collect()
    out.foreach { r =>
      assert(r.getAs[String]("once") == r.getAs[String]("a"), r)
      assert(r.getAs[String]("twice") == r.getAs[String]("once"), r)
    }
  }

  test("scd2Apply keeps at most one active version per key for any batch pair") {
    val keysGen = Gen.listOfN(12, Gen.chooseNum(1L, 8L)).map(_.distinct)
    samples(Gen.zip(keysGen, keysGen, Gen.chooseNum(0, 3)), 8).foreach {
      case (ks1, ks2, salt) if ks1.nonEmpty && ks2.nonEmpty =>
        val b1 = ks1.map(k => (k, s"v$k")).toDF("k", "attr")
        val b2 = ks2.map(k => (k, s"v${(k + salt) % 9}")).toDF("k", "attr")
        val t = Scd2.initial(b1, Seq("k"), Constants.LowDt)
        val out = Scd2.scd2Apply(t, b2, Seq("k"), Seq("attr"),
          Date.valueOf("2024-06-01")).cache()
        assert(QualityChecks.scd2ActiveViolations(out, Seq("k")).isEmpty,
          s"violation for ks1=$ks1 ks2=$ks2 salt=$salt")
        // versions only accumulate; nothing is lost
        assert(out.count() >= t.count())
        out.unpersist()
      case _ => ()
    }
  }

  test("priority sampling favors heavy rows and ignores unrelated appends") {
    import graft.operators.Sampling
    import org.apache.spark.sql.functions.{col, lit}
    val s = spark
    import s.implicits._
    // one row of weight 10000 among 200 of weight 1: the heavy row's
    // priority dominates any light row's with overwhelming margin
    val rows = ((1L to 200L).map(i => (i, 1L)) :+ (999L, 10000L)).toDF("id", "w")
    val kept = Sampling.prioritySample(rows, col("w"), 10, col("id"))
      .select("id").as[Long].collect().toSet
    assert(kept.contains(999L), "the heavy row must win a k=10 draw")
    assert(kept.size == 10)
    // determinism + stability: re-running and appending unrelated ids
    // never changes which of the ORIGINAL rows win among themselves
    val again = Sampling.prioritySample(rows, col("w"), 10, col("id"))
      .select("id").as[Long].collect().toSet
    assert(again == kept)
    val grown = rows.unionByName(Seq((5000L, 0L)).toDF("id", "w"))
    val keptGrown = Sampling.prioritySample(grown, col("w"), 10, col("id"))
      .filter(col("id") =!= lit(5000L))
      .select("id").as[Long].collect().toSet
    assert(keptGrown == kept, "a zero-weight append must not perturb the sample")
  }

  test("systematic sampling: exactly k picks, per-doc ∈ {floor,ceil} of share, partition-independent") {
    import graft.operators.Sampling
    val s = spark
    import s.implicits._
    samples(Gen.listOfN(40, Gen.chooseNum(0L, 500L)), 6).foreach { ws =>
      val rows = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      val total = ws.sum
      if (total > 0) {
        val k = 17
        val df = rows.toDF("id", "w")
        val got = Sampling.systematicWeighted(df, "id", "w", k)
          .select("id", "n_picks").as[(Long, Long)].collect().toMap
        assert(got.values.sum == k, s"Σ picks must be exactly k for ws=$ws")
        rows.foreach { case (id, w) =>
          val share = w.toDouble * k / total
          val picks = got.getOrElse(id, 0L).toDouble
          assert(picks >= math.floor(share) - 1e-9 && picks <= math.ceil(share) + 1e-9,
            s"id=$id w=$w share=$share picks=$picks ws=$ws")
        }
        // partitioning independence: the pick multiset is a pure function
        // of the (id, w) relation, not the physical layout
        val re = Sampling.systematicWeighted(df.repartition(7), "id", "w", k)
          .select("id", "n_picks").as[(Long, Long)].collect().toMap
        assert(re == got, s"repartition changed the sample for ws=$ws")
      }
    }
  }

  test("systematic sampling survives the W·k ≥ 2^63 regime and rejects zero total weight") {
    import graft.operators.Sampling
    val s = spark
    import s.implicits._
    // 20 rows of 10^15 tokens each, k = 2000: offset·k peaks at 4·10^19,
    // past Long.MaxValue ≈ 9.2·10^18 — a BIGINT lattice product would
    // silently wrap (non-ANSI) and emit negative/garbage pick counts; the
    // DECIMAL(38,0) ceil must still land every count on the exact lattice.
    val big = (1L to 20L).map(i => (i, 1_000_000_000_000_000L)).toDF("id", "w")
    val k = 2000
    val got = Sampling.systematicWeighted(big, "id", "w", k)
      .select("id", "n_picks").as[(Long, Long)].collect().toMap
    assert(got.values.sum == k)
    // equal weights: every row gets exactly k/20 picks, none negative
    assert(got.values.forall(_ == k / 20), got.toString)
    // zero total weight on a NON-empty input is a caller error, raised
    // from the plan; an empty input stays an empty (not failed) sample
    val zeros = Seq((1L, 0L), (2L, 0L)).toDF("id", "w")
    val e = intercept[Exception] {
      Sampling.systematicWeighted(zeros, "id", "w", 5).collect()
    }
    assert(e.getMessage != null)
    val empty = Sampling.systematicWeighted(
      Seq.empty[(Long, Long)].toDF("id", "w"), "id", "w", 5)
    assert(empty.collect().isEmpty)
  }

  test("surrogate keys are dense 1..n for any distinct key set") {
    val setGen = Gen.listOfN(30, word).map(_.distinct)
    samples(setGen, 8).filter(_.nonEmpty).foreach { ks =>
      val keyed = Surrogates.assign(ks.toDF("nk"), "sk", Seq(col("nk")))
        .select("sk").as[Long].collect().sorted
      assert(keyed.toSeq == (1L to ks.length).toSeq, s"keys=$ks")
    }
  }

  test("duplicated-span coverage equals brute-force position marking on random corpora") {
    // random docs over a tiny alphabet force plenty of repeated L-grams,
    // within and across docs; the reference marks every covered token
    // position directly, with no interval logic to share bugs with
    import graft.operators.Dedup
    val l = 3
    val docGen = Gen.listOfN(14, Gen.oneOf("a", "b", "c")).map(_.mkString(" "))
    samples(Gen.listOfN(6, docGen), 5).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val grams: Seq[(Long, Int, String)] = texts.zipWithIndex.flatMap {
        case (t, i) =>
          val toks = t.split(" ")
          (0 to toks.length - l).map(p =>
            (i.toLong, p, toks.slice(p, p + l).mkString(" ")))
      }
      val dupTexts = grams.groupBy(_._3).filter(_._2.size > 1).keySet
      val want = texts.zipWithIndex.map { case (t, i) =>
        val covered = grams
          .filter(g => g._1 == i.toLong && dupTexts(g._3))
          .flatMap(g => g._2 until g._2 + l).toSet
        i.toLong -> ((t.split(" ").length.toLong, covered.size.toLong))
      }.toMap
      val got = Dedup.duplicatedSpanCoverageFromOcc(docs,
          Dedup.spanOccurrences(docs, "doc_id", "text", l), "doc_id", "text", l)
        .as[(Long, Long, Long)].collect()
        .map { case (id, nt, nd) => id -> ((nt, nd)) }.toMap
      assert(got == want, s"corpus=$texts")
    }
  }

  test("substring apply equals brute-force drop/trim/keep on random corpora") {
    // same tiny-alphabet corpora as the coverage property; the reference
    // derives the policy and the retained text directly from marked
    // positions — no interval or anti-join logic shared with the operator
    import graft.operators.Dedup
    val l = 3
    val docGen = Gen.listOfN(14, Gen.oneOf("a", "b", "c")).map(_.mkString(" "))
    samples(Gen.listOfN(6, docGen), 5).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val grams: Seq[(Long, Int, String)] = texts.zipWithIndex.flatMap {
        case (t, i) =>
          val toks = t.split(" ")
          (0 to toks.length - l).map(p =>
            (i.toLong, p, toks.slice(p, p + l).mkString(" ")))
      }
      val dupTexts = grams.groupBy(_._3).filter(_._2.size > 1).keySet
      val want = texts.zipWithIndex.map { case (t, i) =>
        val toks = t.split(" ")
        val covered = grams
          .filter(g => g._1 == i.toLong && dupTexts(g._3))
          .flatMap(g => g._2 until g._2 + l).toSet
        val nDup = covered.size.toLong
        val action =
          if (2 * nDup >= toks.length) "drop"
          else if (nDup > 0) "trim" else "keep"
        val clean =
          if (action == "drop") null
          else toks.zipWithIndex.collect {
            case (tok, p) if !covered(p) => tok
          }.mkString(" ")
        (i.toLong, action, toks.length.toLong, nDup, clean)
      }.toSet
      val got = Dedup.duplicatedSpanApply(docs,
          Dedup.spanOccurrences(docs, "doc_id", "text", l), "doc_id", "text", l)
        .as[(Long, String, Long, Long, String)].collect().toSet
      assert(got == want, s"corpus=$texts")
    }
  }

  test("schema widening is commutative, idempotent, and value-preserving") {
    import org.apache.spark.sql.types._
    import graft.sources.SchemaEvolve
    val types: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType,
      FloatType, DoubleType, DecimalType(10, 2), DecimalType(20, 0),
      DateType, TimestampType, StringType)
    for (a <- types; b <- types) {
      val ab = try Some(SchemaEvolve.widen(a, b)) catch {
        case _: IllegalArgumentException => None
      }
      val ba = try Some(SchemaEvolve.widen(b, a)) catch {
        case _: IllegalArgumentException => None
      }
      assert(ab == ba, s"widen not commutative: $a/$b -> $ab vs $ba")
      // widening reaches a fixed point: the result absorbs both inputs
      ab.foreach { w =>
        assert(SchemaEvolve.widen(w, w) == w)
        assert(SchemaEvolve.widen(a, w) == w, s"$a not absorbed by $w")
        assert(SchemaEvolve.widen(b, w) == w, s"$b not absorbed by $w")
      }
    }
    // every representable value survives the cast to the widened type:
    // integral extremes through the int ladder and decimal enclosure
    val extremes = Seq(Int.MaxValue, Int.MinValue, 1, 0, -1)
    val df = extremes.toDF("v")
    val widened = SchemaEvolve.widen(IntegerType, DecimalType(10, 2))
    val back = df.select(col("v").cast(widened).cast(IntegerType).as("v"))
      .as[Int].collect().toSet
    assert(back == extremes.toSet, s"int extremes mangled through $widened")
  }
}
