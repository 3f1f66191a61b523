package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mining.{SetSimilarity, VectorSimilarity}

class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession._

  test("simhashPairs finds hamming-close pairs exactly (pigeonhole bands)") {
    import spark.implicits._
    val sigs = Seq(
      (1L, 0x0F0F0F0FL), // base
      (2L, 0x0F0F0F0EL), // hamming 1 from base
      (3L, 0x0F0F0F0CL), // hamming 2 from base
      (4L, 0xF0F0F0F0L)  // hamming 32 from base
    ).toDF("doc_id", "simhash")
    val pairs = SetSimilarity.simhashPairs(sigs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 1), (1L, 3L, 2), (2L, 3L, 1)))
  }

  test("minhash signature agreement approximates token-set jaccard") {
    val sigs = SetSimilarity.minhashSig(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(",").map(_.toLong).toSeq)
      .toMap
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(expr(graft.ops.Text.toksExpr)).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = toks.keys.toSeq.sorted.take(30)
    val errs = for (a <- ids; b <- ids if a < b) yield {
      val j = toks(a).intersect(toks(b)).size.toDouble /
        toks(a).union(toks(b)).size
      val est = sigs(a).zip(sigs(b)).count { case (x, y) => x == y } /
        SetSimilarity.NumHashes.toDouble
      math.abs(j - est)
    }
    val mean = errs.sum / errs.size
    assert(mean < 0.15, s"mean |estimate − jaccard| = $mean")
  }

  test("lsh near-dup pairs are a subset of exact pairs at its tau") {
    val lsh = SetSimilarity.neardupLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact pairs at the LSH verify threshold, brute force on sf0.001
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(expr(graft.ops.Text.toksExpr)).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = toks.keys.toSeq.sorted
    val exact = (for {
      a <- ids; b <- ids if a < b
      j = toks(a).intersect(toks(b)).size.toDouble /
        toks(a).union(toks(b)).size
      if j >= SetSimilarity.LshVerifyTau
    } yield (a, b)).toSet
    assert(lsh.subsetOf(exact), "LSH-verified pairs all truly above tau")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.8, s"LSH recall $recall (reference bar: 0.8)")
    }
  }

  test("shingle near-dup pairs are a subset of exact shingle pairs at tau") {
    val lsh = SetSimilarity.shingleNeardup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force word-3-shingle jaccard on sf0.001
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr(graft.ops.Text.toksExpr).as("toks"))
      .select(col("doc_id"), expr(
        s"array_distinct(${graft.ops.Text.ngramExpr("toks", 3)})").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .filter(_._2.nonEmpty).toMap
    val ids = sh.keys.toSeq.sorted
    val exact = (for {
      a <- ids; b <- ids if a < b
      j = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
      if j >= SetSimilarity.ShingleTau
    } yield (a, b)).toSet
    assert(lsh.subsetOf(exact), "every emitted pair is truly above tau")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.8, s"shingle LSH recall $recall (bar: 0.8)")
    }
  }

  test("prefix-filter join equals brute force at tau 0.7") {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(expr(graft.ops.Text.toksExpr)).as("ts"))
    val got = SetSimilarity.prefixFilterJoin(toks, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = toks.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = sets.keys.toSeq.sorted
    val exact = (for {
      a <- ids; b <- ids if a < b
      j = sets(a).intersect(sets(b)).size.toDouble /
        sets(a).union(sets(b)).size
      if j >= 0.7
    } yield (a, b)).toSet
    assert(got == exact, s"prefix join ${got.size} vs brute ${exact.size}")
  }

  test("deletion-neighborhood q22 equals brute force at its tau") {
    val got = SetSimilarity.neardupJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(expr(graft.ops.Text.toksExpr)).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = sets.keys.toSeq.sorted
    val exact = (for {
      a <- ids; b <- ids if a < b
      j = sets(a).intersect(sets(b)).size.toDouble /
        sets(a).union(sets(b)).size
      if j >= SetSimilarity.JaccardTau
    } yield (a, b)).toSet
    assert(got == exact, s"deletion join ${got.size} vs brute ${exact.size}")
  }

  test("near-dup dispatcher: bucketed at dedup grade, exact below; paths agree") {
    import spark.implicits._
    // routing rule
    assert(VectorSimilarity.usesBucketedPath(0.9))
    assert(VectorSimilarity.usesBucketedPath(VectorSimilarity.DedupGradeCos))
    assert(!VectorSimilarity.usesBucketedPath(0.4))
    // synthetic 64-d corpus with planted EXACT duplicates (ids 100+i
    // duplicate ids 0..4) — identical vectors share every bucket, so
    // the bucketed path must find them with probability 1
    def vec(seed: Int): Seq[Double] =
      (0 until 64).map(j => TestUtil.det01(seed.toLong * 64 + j) * 2 - 1)
    val base = (0 until 20).map(i => (i.toLong, vec(i)))
    val dups = (0 until 5).map(i => ((100 + i).toLong, vec(i)))
    val pts = (base ++ dups).toDF("vec_id", "vd")
    val thr = 0.95
    val exact = VectorSimilarity.nearDupPairsExactOn(pts, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = VectorSimilarity.nearDupPairsBucketedOn(pts, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == (0 until 5).map(i => (i.toLong, (100 + i).toLong)).toSet,
      s"ground truth is exactly the planted dup pairs: $exact")
    assert(bucketed == exact, "bucketed path finds exactly the exact-path pairs")
    // the dedup-grade plan must be equi-join only — no all-pairs
    // nested-loop anywhere at scale
    val plan = VectorSimilarity.nearDupPairsBucketedOn(pts, thr)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), "bucketed path never builds n² pairs")
  }

  test("int8 quantization: rmse bounded by half-step, nnz sane") {
    val rows = VectorSimilarity.quantizeInt8(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (scale, rmse, nnz) =
        (r.getAs[Double]("scale"), r.getAs[Double]("rmse"),
          r.getAs[Long]("nnz"))
      assert(scale >= 0.0)
      // round-half-up keeps every element within half a quantization
      // step, so the RMS can't exceed it either
      assert(rmse <= scale / 2 + 1e-9, s"rmse $rmse > step/2 ${scale / 2}")
      assert(nnz >= 0 && nnz <= VectorSimilarity.Dim)
    }
  }

  test("ivf search recall@3 >= 0.5 vs exact top-k at nprobe=4/16") {
    val bf = VectorSimilarity.cosineTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = VectorSimilarity.ivfSearch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf.nonEmpty)
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    assert(recall >= 0.5, s"IVF recall@3 = $recall (probing 4/16 lists)")
  }

  test("shingle LSH recall ≥ 0.85 over 100 random corpora (1−(1−τ⁴)⁸ bound)") {
    // property-style recall check mirroring the reference's recall ≥ 0.8
    // grading: 100 generated corpora (deterministic LCG, replayable),
    // planted near-dups at token-mutation distances straddling τ = 0.8.
    // At J = 0.8 the banding bound gives detection ≥ 1−(1−0.8⁴)⁸ ≈ 0.985
    // (the ≥20/32 sig-match pre-filter trims it slightly), so aggregate
    // recall over every true-J ≥ τ pair must clear 0.85 comfortably.
    // Corpora share one DataFrame (disjoint vocabularies → no cross-
    // corpus matches) so the pipeline runs once, as it would in prod.
    import spark.implicits._
    var seed = 0xBADC0DEL
    def next(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n + n) % n).toInt
    }
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    (0 until 100).foreach { trial =>
      val vocab = (0 until 40).map(k => s"t${trial}w$k")
      def randDoc(len: Int): Array[String] =
        Array.fill(len)(vocab(next(vocab.size)))
      val base = randDoc(30)
      docs += ((trial * 100L, base.mkString(" ")))
      // planted variants: 0..2 token mutations → J ≈ 1.0 / 0.81 / 0.65
      (1 to 2).foreach { i =>
        val v = base.clone()
        (0 until next(3)).foreach(_ => v(next(v.length)) = vocab(next(vocab.size)))
        docs += ((trial * 100L + i, v.mkString(" ")))
      }
      // unrelated noise docs
      (3 to 5).foreach(i => docs += ((trial * 100L + i, randDoc(25).mkString(" "))))
    }
    def shingles(text: String): Set[String] =
      text.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val byId = docs.toMap
    val expected = for {
      (a, ta) <- docs; (b, tb) <- docs
      if a < b && a / 100 == b / 100
      sa = shingles(ta); sb = shingles(tb)
      if sa.nonEmpty && sb.nonEmpty
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= SetSimilarity.ShingleTau
    } yield (a, b)
    assert(expected.size >= 50, s"generator sanity: ${expected.size} planted pairs")
    val found = SetSimilarity.shingleNeardupOn(docs.toSeq.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactness: every reported pair truly has J ≥ τ (verify step)
    found.foreach { case (a, b) =>
      val sa = shingles(byId(a)); val sb = shingles(byId(b))
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(j >= SetSimilarity.ShingleTau - 1e-9, s"false positive ($a,$b) J=$j")
    }
    val recall = expected.count(found).toDouble / expected.size
    assert(recall >= 0.85, s"recall $recall over ${expected.size} true pairs")
  }

  test("source-overlap minhash estimate tracks true union jaccard (±4σ)") {
    val est = SetSimilarity.sourceOverlap(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    val unions = Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.flatMap(_.getString(1).split(" ")).filter(_.nonEmpty)
        .toSet).toMap
    // 32-hash minhash: σ = sqrt(j(1−j)/32) ≤ 0.089; allow 4σ
    est.foreach { case ((a, b), e) =>
      val sa = unions(a); val sb = unions(b)
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(e - j) <= 0.36, s"($a,$b): est $e vs true $j")
    }
    assert(est.nonEmpty)
  }

  test("ann lsh results carry exact cosines present in brute force") {
    val ann = VectorSimilarity.annHyperplaneLsh(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val bf = VectorSimilarity.cosineTopK(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    // any (qid, nid) pair both report must agree on the cosine exactly
    ann.keySet.intersect(bf.keySet).foreach { k =>
      assert(math.abs(ann(k) - bf(k)) < 1e-9)
    }
  }

  // Aggregate-recall property for q58's banded MinHash-LSH, mirroring
  // the reference's recall-≥0.8 grading (Assignment3 description §4.1.4):
  // over ≥100 ScalaCheck-generated corpora with planted near-duplicates,
  // the pairs LSH recovers must cover ≥0.8 of the brute-force
  // shingle-Jaccard-≥τ truth. At τ = 0.8 with 8 bands × 4 rows the
  // published catch probability is 1−(1−τ⁴)⁸ ≈ 0.985 (times the ≥20/32
  // agreement pre-filter's P ≈ 0.99 at the threshold), so 0.8 leaves
  // honest slack without being vacuous. All 100 corpora ride in ONE
  // DataFrame (disjoint doc_id blocks) so the whole property is a
  // single Spark pass, not 100 sessions.
  test("q58 recall ≥ 0.8 over 100 scalacheck corpora with planted near-dups") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._

    val vocab = (0 until 60).map(i => s"w$i")
    // a corpus: 3 (base, near-dup) families + 6 unrelated docs. A dup is
    // the base with 0–2 single-token substitutions: one substitution on
    // ~30 tokens perturbs ≤3 of ~28 shingles (J ≳ 0.8); two usually land
    // below τ, exercising the reject side of the verify.
    val docGen: Gen[Vector[String]] = for {
      n <- Gen.chooseNum(26, 38)
      ts <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ts.toVector
    val familyGen: Gen[(Vector[String], Vector[String])] = for {
      base <- docGen
      k <- Gen.chooseNum(0, 2)
      pos <- Gen.listOfN(k, Gen.chooseNum(0, 1000))
      sub <- Gen.listOfN(k, Gen.oneOf(vocab))
    } yield {
      val dup = pos.zip(sub).foldLeft(base) { case (d, (p, w)) =>
        d.updated(p % d.length, w)
      }
      (base, dup)
    }
    val corpusGen: Gen[(Seq[Vector[String]], Seq[Vector[String]])] = for {
      fams <- Gen.listOfN(3, familyGen)
      noise <- Gen.listOfN(6, docGen)
    } yield (fams.flatMap { case (b, d) => Seq(b, d) }, noise)

    val corpora = Gen.listOfN(100, corpusGen)
      .apply(Gen.Parameters.default, Seed(20260813L))
      .getOrElse(sys.error("scalacheck generation failed"))

    val rows = corpora.zipWithIndex.flatMap { case ((fams, noise), c) =>
      (fams ++ noise).zipWithIndex.map { case (toks, i) =>
        (c * 1000L + i, toks.mkString(" "))
      }
    }
    val docs = rows.toDF("doc_id", "text")

    // brute-force truth, independent local reimplementation of the
    // word-3-shingle Jaccard (tokens have no spaces, so text round-trips
    // the production tokenizer exactly)
    def shingles(toks: Vector[String]): Set[String] =
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    val shMap = rows.map { case (id, text) =>
      id -> shingles(text.split(" ").toVector)
    }.toMap
    val truth = corpora.indices.flatMap { c =>
      val ids = rows.map(_._1).filter(id => id / 1000 == c)
      for {
        a <- ids; b <- ids if a < b
        sa = shMap(a); sb = shMap(b)
        if sa.nonEmpty && sb.nonEmpty
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= SetSimilarity.ShingleTau
      } yield (a, b)
    }.toSet

    val found = SetSimilarity.shingleNeardupOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // precision is exact by construction (the verify step recomputes J
    // on the real shingle sets) — check it against the independent truth
    found.foreach { case (a, b) =>
      val sa = shMap(a); val sb = shMap(b)
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(j >= SetSimilarity.ShingleTau - 1e-12,
        s"($a,$b) emitted at J=$j < tau")
    }
    assert(truth.size >= 100,
      s"property vacuous: only ${truth.size} planted true pairs")
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.8,
      s"aggregate LSH recall $recall over ${truth.size} true pairs (bar 0.8)")
  }

  test("semDedup drops the higher id of a same-cluster near-dup, nothing else") {
    import spark.implicits._
    val pts = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),   // seed centroid 0
      (1L, Seq(0.0, 1.0, 0.0, 0.0)),   // seed centroid 1
      (2L, Seq(1.0, 0.01, 0.0, 0.0)),  // cluster 0, cos(0,2) ≈ 0.99995
      (3L, Seq(0.0, 1.0, 0.5, 0.0))    // cluster 1, cos(1,3) ≈ 0.894
    ).toDF("vec_id", "vd")
    def keeps(threshold: Double): Map[Long, Boolean] =
      VectorSimilarity.semDedupOn(pts, 2, threshold).collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // τ=0.9: only the (0,2) pair is within threshold → 2 dropped
    assert(keeps(0.9) == Map(0L -> true, 1L -> true, 2L -> false, 3L -> true))
    // τ=0.85 additionally catches (1,3) → 3 dropped too
    assert(keeps(0.85) == Map(0L -> true, 1L -> true, 2L -> false, 3L -> false))
    // τ above every pairwise cosine (max is cos(0,2) ≈ 0.99995):
    // everything kept
    assert(keeps(0.99999).values.forall(identity))
  }

  test("lshCandidates volume gate: below the spill guard the stock " +
      "plan stands; above it a broadcastable doc table is FORCED " +
      "broadcast (the pair stream never enters an exchange) and only " +
      "a non-broadcastable one rides shuffle-hash; identical " +
      "candidates in all three regimes") {
    // synthetic signatures: doc_id % 3 repeated ×32, so docs in the
    // same residue class agree on every band AND pass the 28/32
    // agreement filter — genuine candidates on 12 rows
    val sigTable = spark.range(1, 13)
      .select(col("id").as("doc_id"),
        expr("array_repeat(id % 3, 32)").as("sig"))
    def run(est: SetSimilarity.LshEst)
    : (String, Set[(Long, Long)], String) = {
      val (cand, hint) = SetSimilarity.lshCandidates(sigTable,
        SetSimilarity.LshBands, SetSimilarity.LshRows,
        SetSimilarity.LshMinSigMatches, est)
      // the hint the caller must apply to its verify lookups follows
      // the same gate — observable on a probe join's physical plan
      val probeJoin = sigTable.select(col("doc_id"))
        .join(hint(sigTable.select(col("doc_id").as("doc_id"),
          col("sig").as("s2"))), "doc_id")
      (cand.queryExecution.executedPlan.toString,
        cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        probeJoin.queryExecution.executedPlan.toString)
    }
    val floor = spark.sessionState.conf.numShufflePartitions
    val guardEst = graft.mining.Recommend.SpillGuardRowsPerTask * floor
    val (small, rSmall, hintSmall) =
      run(SetSimilarity.LshEst(12L, guardEst))
    // pair-mass candidates but a doc table under the broadcast bound
    val (mid, rMid, hintMid) = run(SetSimilarity.LshEst(12L,
      graft.mining.Recommend.ShuffleRowsPerPartition * 100L))
    // pair-mass candidates AND a doc table past the broadcast bound
    val (big, rBig, hintBig) = run(SetSimilarity.LshEst(
      SetSimilarity.LshLookupBroadcastDocs + 1L,
      graft.mining.Recommend.ShuffleRowsPerPartition * 100L))
    // pair-mass + few docs but a MEASURED payload past the byte cap:
    // the count bound alone is a ~1 KB/doc proxy — huge documents must
    // block the forced broadcast even under the count bound
    val (fat, rFat, hintFat) = run(SetSimilarity.LshEst(12L,
      graft.mining.Recommend.ShuffleRowsPerPartition * 100L,
      SetSimilarity.LshLookupBroadcastBytes + 1L))
    assert(!small.contains("REPARTITION_BY_NUM") &&
      !small.contains("ShuffledHashJoin"),
      s"below-guard plan must be the stock session plan:\n$small")
    assert(!hintSmall.contains("ShuffledHashJoin"),
      s"below-guard lookup hint must leave Catalyst's pick:\n$hintSmall")
    for ((plan, label) <- Seq((mid, "mid"), (big, "big")))
      assert(plan.contains("REPARTITION_BY_NUM") &&
        plan.contains(", 100)"),
        s"above-guard $label pair shuffle must repartition at " +
          s"est/2M = 100:\n$plan")
    assert(hintMid.contains("BroadcastHashJoin") &&
      !hintMid.contains("ShuffledHashJoin"),
      s"pair-mass + small doc table must force broadcast lookups " +
        s"(the pair stream never enters an exchange):\n$hintMid")
    assert(mid.contains("BroadcastHashJoin"),
      s"mid-regime sig lookups inside lshCandidates must broadcast " +
        s"too:\n$mid")
    assert(hintBig.contains("ShuffledHashJoin"),
      s"pair-mass + non-broadcastable doc table must ride " +
        s"shuffle-hash:\n$hintBig")
    assert(big.contains("ShuffledHashJoin"),
      s"big-regime sig lookups must ride shuffle-hash:\n$big")
    assert(hintFat.contains("ShuffledHashJoin") &&
      fat.contains("ShuffledHashJoin"),
      s"payload past the byte cap must block the forced broadcast " +
        s"even under the doc-count bound:\n$hintFat")
    assert(rSmall == rMid && rMid == rBig && rBig == rFat &&
      rSmall.nonEmpty,
      "gate branches must agree on the candidate pairs")
  }

  test("lshEstimate recovers nDocs AND the measured verify payload " +
      "from the one band aggregate (Σ/nBands on both axes)") {
    val base = spark.range(1, 13)
      .select(col("id").as("doc_id"),
        expr("array_repeat(id % 3, 32)").as("sig"))
    val est = SetSimilarity.lshEstimate(
      base.withColumn("pb", col("doc_id") * 10L),
      SetSimilarity.LshBands, SetSimilarity.LshRows)
    assert(est.nDocs == 12L)
    assert(est.payloadBytes == (1L to 12L).map(_ * 10L).sum,
      s"payload must be the exact per-doc sum: $est")
    // no pb column → unmeasured (0), never a crash; same counts
    val est0 = SetSimilarity.lshEstimate(base,
      SetSimilarity.LshBands, SetSimilarity.LshRows)
    assert(est0.nDocs == 12L && est0.payloadBytes == 0L &&
      est0.candEst == est.candEst)
  }

  test("screenAgainstIndex volume gate: past the broadcast gate a " +
      "pair-mass delta screens via shuffle-hash index lookups and a " +
      "sized band exchange; below the guard the stock plan stands; " +
      "all three branches agree with the broadcast plan") {
    import spark.implicits._
    val corpus = (1L to 6L).map(i => (i,
      s"corpus doc $i tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (101L, "corpus doc 3 tok3a tok3b tok3c tok3d tok3e"), // dup of 3
      (102L, "a wholly different incoming document body here"))
      .toDF("doc_id", "text")
    val floor = spark.sessionState.conf.numShufflePartitions
    def run(est: Long): (String, Set[(Long, Long, Double)]) = {
      val r = SetSimilarity.screenAgainstIndex(delta, corpus, "1 hour",
        None, Some(est))
      (r.queryExecution.executedPlan.toString,
        r.collect().map(x => (x.getLong(0), x.getLong(1),
          x.getDouble(2))).toSet)
    }
    TestUtil.withConf("spark.graft.screenBroadcastDocs" -> "0") {
      val (small, rSmall) = run(
        graft.mining.Recommend.SpillGuardRowsPerTask * floor)
      val (big, rBig) = run(
        graft.mining.Recommend.ShuffleRowsPerPartition * 64L)
      // "stock" = Catalyst's own choice — on this tiny frame the lazy
      // checkpoints carry origin stats, so its pick may legitimately
      // be broadcast; the gate's two rewrites must both be absent
      assert(!small.contains("REPARTITION_BY_NUM") &&
        !small.contains("ShuffledHashJoin"),
        s"below-guard non-broadcast plan must be stock:\n$small")
      assert(big.contains("ShuffledHashJoin") &&
        big.contains("REPARTITION_BY_NUM"),
        s"above-guard plan must hint shuffle-hash and size the band " +
          s"exchange:\n$big")
      val rBc = TestUtil.withConf(
          "spark.graft.screenBroadcastDocs" -> "1000000") {
        val bc = SetSimilarity.screenAgainstIndex(delta, corpus)
        assert(bc.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
          "small-index branch must broadcast")
        bc.collect().map(x => (x.getLong(0), x.getLong(1),
          x.getDouble(2))).toSet
      }
      // the broadcast gate is byte-capped too: a MEASURED index
      // payload past spark.graft.screenBroadcastBytes must drop to the
      // non-broadcast branch even when the doc count is under the
      // bound — observable as the branch's shuffle-hash rewrite firing
      // (a stock-plan BroadcastHashJoin on this tiny frame would be
      // Catalyst's own legitimate pick, so the hint is the witness)
      val rFat = TestUtil.withConf(
          "spark.graft.screenBroadcastDocs" -> "1000000",
          "spark.graft.screenBroadcastBytes" -> "0") {
        val fat = SetSimilarity.screenAgainstIndex(delta, corpus,
          "1 hour", None,
          Some(graft.mining.Recommend.ShuffleRowsPerPartition * 64L))
        assert(fat.queryExecution.executedPlan.toString
          .contains("ShuffledHashJoin"),
          "index payload past the byte cap must take the non-broadcast " +
            "branch (shuffle-hash index lookups)")
        fat.collect().map(x => (x.getLong(0), x.getLong(1),
          x.getDouble(2))).toSet
      }
      assert(rSmall == rBig && rBig == rBc && rBc == rFat,
        s"gate branches must agree: $rSmall vs $rBig vs $rBc vs $rFat")
      assert(rSmall == Set((101L, 3L, 1.0)),
        s"planted dup must be the one hit: $rSmall")
    }
  }
}
