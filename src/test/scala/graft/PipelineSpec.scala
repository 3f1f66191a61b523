package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.mining.SetSimilarity
import graft.ops.{Pipeline, Text}

/** The DataFrame-first (`*On`) entry points on a hand-built corpus —
  * proving the operators run on any (doc_id, text) DataFrame, not just
  * the driver testdata, and that the composed pipeline makes the right
  * call on each planted document. */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  // a good doc: long enough, stopword-bearing, punctuation-light
  private val good =
    "the quick brown fox jumps over a lazy dog while the calm river " +
      "flows past a quiet village and the evening light settles softly " +
      "over the distant hills beyond the old stone bridge"

  private def corpus = {
    import spark.implicits._
    Seq(
      1L -> good,
      2L -> good,                                   // exact dup of 1
      3L -> good.replace("quick", "swift"),         // near-dup of 1
      4L -> "too short",                            // fails length rule
      // stopword-bearing so quality passes and the REPETITION rule is
      // the one that fires (rule order: quality precedes repetition)
      5L -> ("the spam " * 20).trim,
      6L -> ("the road north runs a long way past a wide field and " +
        "a small farm where the dogs sleep in the sun near a barn " +
        "full of hay and the wind turns a rusty vane above the door")
    ).toDF("doc_id", "text")
  }

  test("curationOn flags each planted failure with the right reason") {
    val verdicts = Text.curationOn(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(verdicts(1L) == "ok")
    assert(verdicts(2L) == "exact_dup")
    assert(verdicts(3L) == "ok") // near-dup is NOT the curation rule's job
    assert(verdicts(4L) == "too_short")
    assert(verdicts(5L) == "repetitive")
    assert(verdicts(6L) == "ok")
  }

  test("shingleNeardupOn finds the planted near-dup pair") {
    val pairs = SetSimilarity.shingleNeardupOn(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1-2 exact (J=1), 1-3 and 2-3 near (one token changed)
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("corpusPrepOn keeps exactly the clean, first-occurrence docs") {
    val kept = Pipeline.corpusPrepOn(corpus).collect()
      .map(_.getLong(0)).toSet
    // 2 and 3 drop as near-dups of 1; 4 and 5 fail curation
    assert(kept == Set(1L, 6L))
  }

  test("corpusPrepFrom over precomputed q58/q59 outputs matches corpusPrepOn") {
    val cur = Text.curationOn(corpus).localCheckpoint()
    val nd = SetSimilarity.shingleNeardupOn(corpus).localCheckpoint()
    val reused = Pipeline.corpusPrepFrom(cur, nd).collect().map(_.getLong(0))
    val direct = Pipeline.corpusPrepOn(corpus).collect().map(_.getLong(0))
    assert(reused.toSeq == direct.toSeq)
  }

  test("dupClustersOn closes the chain transitively with min-id canon") {
    // 2 is an exact dup of 1 and 3 a near-dup of 1 → one cluster {1,2,3}
    val got = Pipeline.dupClustersOn(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("q86 reuse composition matches the naive public-op composition") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    // naive: every stage through its public On form, each recomputing
    // its own signals — the reuse DAG must be bit-identical to it
    val kept = Text.curationOn(docs).filter(col("keep")).select("doc_id")
    val keptDocs = docs.join(kept, Seq("doc_id"), "left_semi")
    val canon = Pipeline.dupClustersOn(keptDocs)
    val trainDocs = keptDocs
      .join(canon.withColumnRenamed("canon_id", "cid"),
        Seq("doc_id"), "left_outer")
      .filter(coalesce(col("cid"), col("doc_id")) === col("doc_id"))
      .filter(expr(
        s"${graft.functions.Hashing.h60SparkSql("doc_id")} " +
          s"% ${Pipeline.SplitMod} < ${Pipeline.SplitTrain}"))
      .select(col("doc_id"), col("source"), col("text"))
    val admitted =
      Pipeline.sourceMixtureOn(trainDocs, Pipeline.SourceTokenQuota)
    val admittedDocs = trainDocs
      .join(admitted.select("doc_id"), Seq("doc_id"), "left_semi")
    val naive =
      Pipeline.shardManifestOn(admittedDocs, Pipeline.TokenShardBudget)
        .collect().toSeq
    val reused = Pipeline.trainPipelineOn(docs).collect().toSeq
    assert(reused.nonEmpty)
    assert(reused == naive)
  }

  test("decontaminateOn counts distinct shared n-grams against the eval set") {
    import spark.implicits._
    val evalSet = Seq(100L -> "alpha beta gamma delta epsilon zeta")
      .toDF("doc_id", "text")
    val corp = Seq(
      // shares "alpha beta gamma delta epsilon"
      1L -> "prefix alpha beta gamma delta epsilon suffix",
      // shares both eval 5-grams
      2L -> "x alpha beta gamma delta epsilon zeta tail words",
      3L -> "totally unrelated text with no overlap at all"
    ).toDF("doc_id", "text")
    val got = Pipeline.decontaminateOn(corp, evalSet).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L))
  }

  test("tokenShardsOn packs contiguous budget-bounded shards at any partitioning") {
    import spark.implicits._
    // 10 docs × 4 tokens, budget 10 → shard boundaries every 2.5 docs:
    // cumBefore 0,4,8,12,... → shards 0,0,0,1,1,2,2,2,3,3
    val docs = (0L until 10L).map(i => (i, "a b c d")).toDF("doc_id", "text")
    val got = Pipeline.tokenShardsOn(docs.repartition(7), 10L).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L,
      4L -> 1L, 5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 3L, 9L -> 3L))
  }

  test("qualitySampleOn is deterministic and keeps only positive-quality docs") {
    val once = Pipeline.qualitySampleOn(corpus).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val twice = Pipeline.qualitySampleOn(corpus).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(once.toSeq == twice.toSeq, "hash acceptance must replay")
    assert(once.forall(_._2 > 0.0),
      "acceptance prob = quality, so kept docs have quality > 0")
  }

  test("sourceMixtureOn admits a quality-ordered prefix within the token quota") {
    import org.apache.spark.sql.functions.col
    val docs = corpus.withColumn("source",
      (col("doc_id") % 2).cast("string"))
    val quota = 40L
    val admitted = Pipeline.sourceMixtureOn(docs, quota).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val quality = graft.ops.Text.docQualityOn(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1).toLong, r.getDouble(2))).toMap
    admitted.groupBy(_._2).foreach { case (src, docs0) =>
      // next-fit bound: quota never exceeded before the last admit
      val toks = docs0.map(_._3).sum
      val maxDoc = docs0.map(_._3).max
      assert(toks - maxDoc < quota, s"source $src over quota: $toks")
      // prefix property: every admitted doc outranks every rejected one
      val admittedIds = docs0.map(_._1).toSet
      val all = quality.keys.filter(id =>
        (id % 2).toString == src).toSeq
      val rank = all.sortBy(id => (-quality(id)._2, id))
      val cut = rank.indexWhere(id => !admittedIds.contains(id))
      assert(cut == -1 || rank.drop(cut).forall(id => !admittedIds.contains(id)),
        s"admitted set is not a rank prefix for source $src")
    }
  }

  test("leakageSplitOn keeps every near-dup group on one side of the split") {
    val rows = Pipeline.leakageSplitOn(corpus).collect()
    // the audit column is computed from the pair list, not assumed
    assert(rows.forall(_.getAs[Long]("cross_pairs") == 0L))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 6L)
    // groups: {1,2,3} (near-dup cluster), {4}, {5}, {6}. A group
    // straddling the split would be counted by BOTH sides'
    // countDistinct, pushing the sum above 4.
    assert(rows.map(_.getAs[Long]("n_groups")).sum == 4L)
  }

  test("lengthCurriculumOn stages partition the corpus by token count") {
    val rows = Pipeline.lengthCurriculumOn(corpus).collect()
      .sortBy(_.getAs[Long]("stage"))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 6L)
    assert(rows.map(_.getAs[Long]("stage")).toSet.subsetOf(Set(1L, 2L, 3L, 4L)))
    // stages are contiguous, non-overlapping length bands
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Long]("max_tokens") <= hi.getAs[Long]("min_tokens"))
      case _ =>
    }
  }

  test("noveltyOn matches brute-force unique-3-gram fractions") {
    import spark.implicits._
    val docs = Map(
      1L -> "a b c d e",   // shares every gram with doc 2
      2L -> "a b c d e",
      3L -> "x y z w v",   // fully original
      4L -> "a b c q r")   // grams: {abc (shared), bcq, cqr}
    val grams = docs.map { case (id, t) =>
      id -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet }
    val dfc = grams.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val expect = grams.map { case (id, gs) =>
      val uniq = gs.count(dfc(_) == 1)
      (id, gs.size.toLong, uniq.toLong,
        math.floor(uniq.toDouble / gs.size * 1e4 + 0.5) / 1e4)
    }.toSet
    val got = Text.noveltyOn(docs.toSeq.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expect)
  }

  test("lmQualityOn matches the hand-computed bigram LM scores") {
    import spark.implicits._
    // keep-docs (stopword-heavy → quality ≥ 0.5): A, C, D; junk doc B
    // (no stopwords → quality 0.05) stays OUT of the LM slice
    val docs = Seq(
      1L -> "the a the a the", // bigrams (the,a)×2 (a,the)×2
      2L -> "zz qq zz qq",     // all bigrams OOV to the LM
      3L -> "a the a",         // (a,the) (the,a)
      4L -> "the a the b"      // (the,a) (a,the) (the,b)
    ).toDF("doc_id", "text")
    // LM counts: (the,a)=4 (a,the)=4 (the,b)=1; totals the=5, a=4
    val lnPaGivenThe = math.log(4.0 / 5)
    val lnPbGivenThe = math.log(1.0 / 5)
    def u6(x: Double) = math.floor(x * 1e6 + 0.5 + 1e-9)
    val expA = u6(lnPaGivenThe * 2 / 4) / 1e6
    val expC = u6(lnPaGivenThe / 2) / 1e6
    val expD = u6((lnPaGivenThe + lnPbGivenThe) / 3) / 1e6
    val got = Text.lmQualityOn(docs).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getBoolean(5)))
    }.toMap
    assert(got(1L) == ((4L, 0L, 0.0, Some(expA), false)))
    assert(got(2L) == ((3L, 3L, 1.0, None, true))) // all-OOV → flagged
    assert(got(3L) == ((2L, 0L, 0.0, Some(expC), false)))
    // p25 of lp_u6 {-111572, -111572, -610860} = -361216: only D is under
    assert(got(4L) == ((3L, 0L, 0.0, Some(expD), true)))
  }

  test("mixtureWeightsOn flattens shares at temperature 0.5") {
    import spark.implicits._
    // token counts 1 / 4 / 16 → √ = 1 / 2 / 4, denominator 7
    val docs = Seq(
      (1L, "s1", "a"),
      (2L, "s2", "a b c d"),
      (3L, "s3", (1 to 16).map(_ => "t").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val rows = Pipeline.mixtureWeightsOn(docs, 7000L).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("weight"),
          r.getAs[Long]("alloc_tokens"))).toMap
    assert(rows("s1") == ((1L, 0.142857, 1000L)))
    assert(rows("s2") == ((4L, 0.285714, 2000L)))
    assert(rows("s3") == ((16L, 0.571429, 4000L)))
    // temperature flattens: the small source's weight exceeds its raw
    // share (1/21 ≈ 0.048), the big one's shrinks (16/21 ≈ 0.76)
    assert(rows("s1")._2 > 1.0 / 21 && rows("s3")._2 < 16.0 / 21)
  }

  test("shardManifestOn checksum pins content: one mutated doc flips exactly its shard") {
    val base = Pipeline.shardManifestOn(corpus, 60L).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("checksum")).toMap
    // token counts (and thus shard layout) unchanged; text mutated
    val mutated = corpus.withColumn("text",
      org.apache.spark.sql.functions.expr(
        "CASE WHEN doc_id = 4 THEN 'too shorx' ELSE text END"))
    val got = Pipeline.shardManifestOn(mutated, 60L).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("checksum")).toMap
    assert(base.keySet == got.keySet)
    val changed = base.keySet.filter(k => base(k) != got(k))
    // doc 4 lives in exactly one shard; only that checksum moves
    assert(changed.size == 1)
  }

  test("sourceGramOverlapOn matches brute-force pairwise gram intersection") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "a b c d e f"), (2L, "s2", "a b c d e x"),
      (3L, "s3", "p q r s t u"), (4L, "s2", "p q r s y z"))
      .toDF("doc_id", "source", "text")
    def grams(t: String) =
      t.split(" ").sliding(Pipeline.DecontamN.toInt).map(_.mkString(" ")).toSet
    val bySrc = Map(
      "s1" -> grams("a b c d e f"),
      "s2" -> (grams("a b c d e x") ++ grams("p q r s y z")),
      "s3" -> grams("p q r s t u"))
    val expect = (for {
      a <- bySrc.keys; b <- bySrc.keys if a < b
      n = bySrc(a).intersect(bySrc(b)).size if n > 0
    } yield (a, b, n.toLong)).toSet
    val got = Pipeline.sourceGramOverlapOn(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expect)
  }

  test("q80-q83 outputs are partitioning-invariant") {
    import org.apache.spark.sql.DataFrame
    val reparted = corpus.repartition(7)
    // sorted compare: the *On entry points are UNSORTED by contract
    // (VERDICT r10 item 7), so the invariant is set equality — row
    // order is the registered wrappers' job
    def same(f: DataFrame => DataFrame): Unit = {
      val a = f(corpus).collect().map(_.toString).toSeq.sorted
      val b = f(reparted).collect().map(_.toString).toSeq.sorted
      assert(a == b)
    }
    same(Pipeline.leakageSplitOn)
    same(Pipeline.lengthCurriculumOn)
    same(Text.noveltyOn)
    same(Text.lmQualityOn)
    same(Pipeline.shardManifestOn(_, 60L))
    import spark.implicits._
    val srcd = Seq(
      (1L, "s1", good), (2L, "s2", good + " extra tail tokens here"),
      (3L, "s1", "short doc one"), (4L, "s3", good.take(80)))
      .toDF("doc_id", "source", "text")
    val w1 = Pipeline.mixtureWeightsOn(srcd, 5000L)
      .collect().map(_.toString).toSeq.sorted
    val w2 = Pipeline.mixtureWeightsOn(srcd.repartition(5), 5000L)
      .collect().map(_.toString).toSeq.sorted
    assert(w1 == w2)
    val o1 = Pipeline.sourceGramOverlapOn(srcd)
      .collect().map(_.toString).toSeq.sorted
    val o2 = Pipeline.sourceGramOverlapOn(srcd.repartition(5))
      .collect().map(_.toString).toSeq.sorted
    assert(o1 == o2)
  }

  // Generated-corpora integrity property for the q80 split: over a
  // union of scalacheck corpora with planted near-dup families (one
  // Spark pass, disjoint doc_id blocks), the report's pair-derived
  // audit must count zero cross-split pairs AND the per-split distinct
  // group counts must sum to the brute-force union-find group total —
  // a group straddling the boundary is counted by BOTH sides'
  // countDistinct, pushing the sum above the truth.
  test("leakageSplitOn group integrity over 40 scalacheck corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val vocab = (0 until 60).map(i => s"w$i")
    val docGen: Gen[Vector[String]] = for {
      n <- Gen.chooseNum(26, 38)
      ts <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ts.toVector
    val familyGen: Gen[(Vector[String], Vector[String])] = for {
      base <- docGen
      k <- Gen.chooseNum(0, 2)
      pos <- Gen.listOfN(k, Gen.chooseNum(0, 1000))
      sub <- Gen.listOfN(k, Gen.oneOf(vocab))
    } yield (base, pos.zip(sub).foldLeft(base) { case (d, (p, w)) =>
      d.updated(p % d.length, w)
    })
    val corpusGen = for {
      fams <- Gen.listOfN(3, familyGen)
      noise <- Gen.listOfN(4, docGen)
    } yield fams.flatMap { case (b, d) => Seq(b, d) } ++ noise
    val corpora = Gen.listOfN(40, corpusGen)
      .apply(Gen.Parameters.default, Seed(20260806L))
      .getOrElse(sys.error("scalacheck generation failed"))
    val rows = corpora.zipWithIndex.flatMap { case (ds, c) =>
      ds.zipWithIndex.map { case (toks, i) =>
        (c * 1000L + i, toks.mkString(" "))
      }
    }
    val docs = rows.toDF("doc_id", "text")

    // brute-force group total: union-find over the detector's own pair
    // list (the split must respect whatever the detector found)
    val pairs = SetSimilarity.shingleNeardupOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val groups = rows.map(r => find(r._1)).distinct.size

    val report = Pipeline.leakageSplitOn(docs).collect()
    assert(report.forall(_.getAs[Long]("cross_pairs") == 0L))
    assert(report.map(_.getAs[Long]("n_docs")).sum == rows.size.toLong)
    assert(report.map(_.getAs[Long]("n_groups")).sum == groups.toLong)
  }

  test("every *On operator returns an empty result on an empty corpus") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Text.curationOn(empty).count() == 0)
    assert(Text.tfidfTopTermsOn(empty).count() == 0)
    assert(SetSimilarity.neardupJaccardOn(empty).count() == 0)
    assert(SetSimilarity.neardupLshOn(empty).count() == 0)
    assert(SetSimilarity.shingleNeardupOn(empty).count() == 0)
    assert(Pipeline.corpusPrepOn(empty).count() == 0)
    assert(Pipeline.dupClustersOn(empty).count() == 0)
    assert(Pipeline.decontaminateOn(empty, empty).count() == 0)
    assert(Pipeline.tokenShardsOn(empty, 100L).count() == 0)
    assert(Pipeline.qualitySampleOn(empty).count() == 0)
    assert(Pipeline.leakageSplitOn(empty).count() == 0)
    assert(Pipeline.lengthCurriculumOn(empty).count() == 0)
    assert(Text.noveltyOn(empty).count() == 0)
    assert(Pipeline.shardManifestOn(empty, 100L).count() == 0)
    val emptySrc = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "source", "text")
    assert(Pipeline.sourceMixtureOn(emptySrc, 100L).count() == 0)
    assert(Pipeline.mixtureWeightsOn(emptySrc, 100L).count() == 0)
    assert(Pipeline.sourceGramOverlapOn(emptySrc).count() == 0)
  }

  test("neardupJaccardOn and neardupLshOn agree on the planted dups") {
    val exact = SetSimilarity.neardupJaccardOn(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SetSimilarity.neardupLshOn(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // token-set J: 1-2 identical → 1.0; 1-3 differ by one token of ~33
    // distinct → ≈ 0.94 < τ=0.95, so only the exact pair qualifies
    assert(exact == Set((1L, 2L)))
    assert(lsh == exact)
  }

  test("docChunksOn: overlapping windows cover every token, last runs short") {
    import spark.implicits._
    val (w, s) = (Text.ChunkWin, Text.ChunkStride) // 50, 40
    def doc(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq(1L -> doc(95), 2L -> doc(40), 3L -> doc(41))
      .toDF("doc_id", "text")
    val rows = Text.docChunksOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1 (95 toks): starts 1, 41, 81 → lengths 50, 50, 15
    assert(rows.filter(_._1 == 1L).toSeq ==
      Seq((1L, 0L, 1L, 50L), (1L, 1L, 41L, 50L), (1L, 2L, 81L, 15L)))
    // doc 2 (40 toks): one short chunk
    assert(rows.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 1L, 40L)))
    // doc 3 (41 toks): documented edge — a trailing 1-token chunk whose
    // content is pure overlap (start 41 ≤ n)
    assert(rows.filter(_._1 == 3L).toSeq ==
      Seq((3L, 0L, 1L, 41L), (3L, 1L, 41L, 1L)))
    // every token index is inside at least one chunk
    assert(rows.forall { case (_, idx, st, _) => st == 1 + idx * s })
    assert(w > s, "chunks must overlap for the coverage rule to hold")
  }

  test("redactOn scrubs planted id runs and reports exact counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "user 12345 called 999 back from 42"),
      (2L, "no ids in here")
    ).toDF("id", "t")
    val rows = Text.redactOn(df, "t", Text.RedactPat, Text.RedactTag)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("red"), r.getAs[Long]("n_matches"),
          r.getAs[Long]("chars_removed")))).toMap
    // 12345 and 999 match [0-9]{3,}; 42 is too short
    assert(rows(1L) ==
      (("user <ID> called <ID> back from 42", 2L, 8L)))
    assert(rows(2L) == (("no ids in here", 0L, 0L)))
  }

  test("q111 vocab encoding matches a driver-side recompute; cap bites") {
    import org.apache.spark.sql.functions._
    val toks = Tables.documents(spark, sfDir).select(col("text"))
      .collect().flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
    val counts = toks.groupBy(identity).map { case (t, xs) =>
      t -> xs.length.toLong }
    val total = toks.length.toLong
    val ranked = counts.toSeq.sortBy { case (t, c) => (-c, t) }
    assert(ranked.length > graft.ops.Pipeline.VocabTopV,
      "vocab smaller than the cap — the truncation path is unexercised")
    var cum = 0L
    val want = ranked.take(graft.ops.Pipeline.VocabTopV).zipWithIndex
      .map { case ((t, c), i) =>
        cum += c
        (i, t, c, math.floor(cum.toDouble / total.toDouble * 1e6 + 0.5) / 1e6)
      }
    val got = SparkEntry.queries("q111_vocab_encode")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == want)
    // coverage strictly below 1 exactly because the cap cut the tail
    assert(got.last._4 < 1.0)
  }

  test("q113 containment: embedded eval doc scores 1.0, noise is cut") {
    import spark.implicits._
    val evalDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),      // 2 5-grams
      (2L, "one two three four five six seven")         // 3 5-grams
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // doc 10 contains eval doc 1 verbatim inside padding
      (10L, "pad pad alpha beta gamma delta epsilon zeta pad pad"),
      // doc 11 shares one of eval doc 2's three 5-grams (1/3 < 0.5)
      (11L, "one two three four five nine ten"),
      (12L, "completely different words here entirely now")
    ).toDF("doc_id", "text")
    val got = graft.ops.Pipeline.containmentOn(corpus, evalDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toList
    assert(got == List((1L, 10L, 2L, 2L, 1.0)),
      s"expected only the embedded pair at containment 1.0, got $got")
  }

  test("q116 quality profile matches a driver-side quartile recompute") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val qk = docs.select(col("doc_id"), col("source"))
      .join(graft.ops.Text.docQualityOn(docs)
        .select(col("doc_id"), col("quality")), "doc_id")
      .select(col("source"),
        floor(col("quality") * 1e4 + 0.5).cast("long").as("qk"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // percentile semantics: rank p·(n−1) over the sorted values,
    // linear interpolation — integer data + dyadic p keep this exact
    val sorted = qk.map(_._2).sorted
    def pct(p: Double): Double = {
      val idx = p * (sorted.length - 1)
      val lo = idx.toInt
      val frac = idx - lo
      if (frac == 0) sorted(lo).toDouble
      else sorted(lo) + (sorted(lo + 1) - sorted(lo)) * frac
    }
    val (b1, b2, b3) = (pct(0.25), pct(0.5), pct(0.75))
    def quart(v: Long): Long =
      1L + (if (v > b1) 1 else 0) + (if (v > b2) 1 else 0) +
        (if (v > b3) 1 else 0)
    val want = qk.groupBy { case (s, v) => (s, quart(v)) }
      .map { case (k, xs) => k -> xs.length.toLong }
    val bySource = qk.groupBy(_._1).map { case (s, xs) =>
      s -> xs.length.toLong }
    val got = SparkEntry.queries("q116_quality_profile")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.view.mapValues(_._1).toMap == want)
    got.foreach { case ((s, _), (n, frac)) =>
      val expFrac =
        math.floor(n.toDouble / bySource(s).toDouble * 1e4 + 0.5) / 1e4
      assert(frac == expFrac, s"frac drift for source $s")
    }
  }

  test("q117 collocations: a planted always-together pair tops the table") {
    import spark.implicits._
    // (aa, bb) occurs 6× and always together; every other bigram
    // occurs once and dies at the min-count filter.
    // N = 24 bigrams, c1(aa·)=6, c2(·bb)=6 → lift = 6·24/36 = 4.0
    val docs = (1 to 6).map(i => (i.toLong, s"f$i aa bb f$i g$i"))
      .toDF("doc_id", "text")
    val got = graft.ops.Text.collocationsOn(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toList
    assert(got == List(("aa", "bb", 6L, 4.0)), s"got $got")
  }

  test("q120 source terms: an exclusive token tops its source's list") {
    import spark.implicits._
    // "zz" appears only in source a (4 of a's 8 tokens); shared filler
    // spreads evenly. distinctiveness(zz|a) = (4/8)/(4/16) = 2.0
    val docs = Seq(
      ("a", "zz zz zz zz x y x y"),
      ("b", "x y x y x y x y")
    ).toDF("source", "text")
    val got = graft.ops.Text.sourceTermsOn(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val aTop = got.filter(_._1 == "a").head
    assert((aTop._2, aTop._3) == ("zz", 2000000L), s"got $aTop")
    // b never lists the token it does not contain
    assert(!got.exists(t => t._1 == "b" && t._2 == "zz"))
  }

  test("q132 weighted median matches a driver-side cumulative replay") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val t = docs
      .select(col("doc_id"), col("source"),
        size(expr(graft.ops.Text.toksExpr)).cast("long").as("w"))
      .join(graft.ops.Text.docQualityOn(docs)
        .select(col("doc_id"), col("quality")), "doc_id")
      .select(col("source"),
        floor(col("quality") * 1e4 + 0.5).cast("long").as("qk"), col("w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = t.groupBy(_._1).map { case (s0, xs) =>
      val total = xs.map(_._3).sum
      val byQk = xs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      var cum = 0L
      val med = byQk.collectFirst {
        case (qk, ws) if { cum += ws; cum * 2 >= total } => qk
      }.get
      s0 -> (med.toDouble / 1e4, total)
    }
    val got = SparkEntry.queries("q132_weighted_median")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("q114 drift: identical distributions score 0, a skewed source dominates") {
    import spark.implicits._
    val docs = Seq(
      ("a", "x x y"), ("a", "x y y x"),     // a: x=4 y=3
      ("b", "x x y x y y x"),               // b: x=4 y=3 (same ratio)
      ("c", "z z z z z z z")                // c: all z — maximal drift
    ).toDF("source", "text")
    val rows = graft.ops.Pipeline.sourceDriftOn(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    // c's chi-square must dwarf a/b's, and its top term is z
    assert(rows("c")._2 > rows("a")._2 && rows("c")._2 > rows("b")._2)
    assert(rows("c")._3 == "z")
    // a and b share one distribution over {x,y} but differ from the
    // corpus-wide mix (which includes z), so they drift equally —
    // same n would give same chi2; here both are nonzero and far
    // below c's
    assert(rows("a")._2 > 0 && rows("b")._2 > 0)
    assert(rows.values.map(_._1).toSeq.sorted == Seq(7L, 7L, 7L))
  }

  test("*On entry points carry no presentation Sort — compositions " +
      "never inherit a corpus-wide orderBy (VERDICT r10 item 7)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit,
      LocalLimit, LogicalPlan, Sort}
    // docs 40..44 repeat docs 0..4 word for word: the other pairs
    // share 3 of 9 shingles (Jaccard 0.33, under ShingleTau), so only
    // these five reach the components rounds
    val docs = ((0L until 40L) ++ (40L until 45L)).map(i =>
      (i, s"src${i % 3}", s"the a w${i % 40} quick brown fox " * 4))
      .toDF("doc_id", "source", "text")
    // a GLOBAL Sort is presentation; Sort-under-Limit is a top-k
    // (TakeOrdered — semantic, physical plan never full-sorts) and
    // window/partition-local sorts are global=false
    def offending(p: LogicalPlan): Seq[Sort] = {
      val topK = p.collect { case g: GlobalLimit => g.child }.flatMap {
        case LocalLimit(_, s: Sort) => Seq(s)
        case s: Sort => Seq(s)
        case _ => Seq.empty
      }.toSet
      p.collect { case s: Sort if s.global && !topK(s) => s }
    }
    def noSort(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val bad = offending(df.queryExecution.optimizedPlan)
      assert(bad.isEmpty,
        s"$label plan carries a global presentation Sort:\n" +
          df.queryExecution.optimizedPlan)
    }
    noSort(Text.curationOn(docs), "curationOn")
    noSort(Text.noveltyOn(docs), "noveltyOn")
    noSort(Text.lmQualityOn(docs), "lmQualityOn")
    noSort(Text.tfidfTopTermsOn(docs), "tfidfTopTermsOn")
    noSort(Text.docChunksOn(docs), "docChunksOn")
    noSort(Text.invertedIndexOn(docs), "invertedIndexOn")
    noSort(Text.bigramLmOn(docs), "bigramLmOn")
    noSort(Text.sourceTermsOn(docs), "sourceTermsOn")
    noSort(Pipeline.corpusPrepOn(docs), "corpusPrepOn")
    noSort(Pipeline.dupClustersOn(docs), "dupClustersOn")
    assert(Pipeline.dupClustersOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (0L until 5L).flatMap(j => Seq((j, j), (40 + j, j))).toSet,
      "the five duplicate pairs form five two-doc clusters")
    noSort(Pipeline.decontaminateOn(docs, docs.limit(5)), "decontaminateOn")
    noSort(Pipeline.qualitySampleOn(docs), "qualitySampleOn")
    noSort(Pipeline.sourceMixtureOn(docs, 500L), "sourceMixtureOn")
    noSort(Pipeline.leakageSplitOn(docs), "leakageSplitOn")
    noSort(Pipeline.lengthCurriculumOn(docs), "lengthCurriculumOn")
    noSort(Pipeline.mixtureWeightsOn(docs, 1000L), "mixtureWeightsOn")
    noSort(Pipeline.shardManifestOn(docs, 200L), "shardManifestOn")
    noSort(Pipeline.sourceGramOverlapOn(docs), "sourceGramOverlapOn")
    noSort(Pipeline.trainPipelineOn(docs), "trainPipelineOn")
    noSort(Pipeline.tokenShardsOn(docs, 200L), "tokenShardsOn")
    noSort(Pipeline.packSequencesOn(docs, 200L, 60L), "packSequencesOn")
    noSort(Pipeline.vocabEncodeOn(docs), "vocabEncodeOn")
    noSort(Pipeline.containmentOn(docs, docs.limit(5)), "containmentOn")
    noSort(Pipeline.sourceDriftOn(docs), "sourceDriftOn")
    noSort(Pipeline.qualityProfileOn(docs), "qualityProfileOn")
    noSort(Pipeline.weightedMedianQualityOn(docs), "weightedMedianQualityOn")
    noSort(graft.mining.SetSimilarity.shingleNeardupOn(docs),
      "shingleNeardupOn")
    noSort(graft.mining.SetSimilarity.neardupJaccardOn(docs),
      "neardupJaccardOn")
    noSort(graft.mining.SetSimilarity.neardupLshOn(docs), "neardupLshOn")
    val interactions = (0L until 30L).flatMap(u =>
      Seq((u, u % 7), (u, (u + 1) % 7))).toDF("u", "i")
    val catalog = (0L until 7L).map(i =>
      (i, s"name$i", s"brand${i % 2}", "T"))
      .toDF("p_partkey", "p_name", "p_brand", "p_type")
    noSort(graft.mining.Recommend.itemCfOn(interactions, 64, 2, 20, 3),
      "itemCfOn")
    noSort(graft.mining.Recommend.contentRecOn(interactions, catalog,
      64, 32, 3), "contentRecOn")
    noSort(graft.mining.Recommend.hybridRecOn(interactions, catalog,
      64, 2, 20, 32, 3), "hybridRecOn")
    // and the registered wrappers DO sort (the user-facing contract)
    val wrapped = Pipeline.corpusPrep(spark, sfDir)
    assert(offending(wrapped.queryExecution.optimizedPlan).nonEmpty ||
      wrapped.queryExecution.optimizedPlan.collect {
        case s: Sort if s.global => s }.nonEmpty,
      "registered q61 wrapper lost its presentation sort")
  }

  test("q148 packing: bins respect capacity, docs are atomic, and the " +
      "greedy property holds (next doc would have overflowed)") {
    import spark.implicits._
    // synthetic corpus with doc lengths that exercise the reset rule
    // AND an oversized doc (> capacity) that must get a bin of its own
    val cap = 50L
    val budget = 200L
    val lengths = Seq(20, 20, 20, 45, 10, 60, 5, 5, 49, 2, 30, 30,
      30, 30, 30, 30, 30, 30, 30, 30)
    val docs = lengths.zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val rows = Pipeline.packSequencesOn(docs, budget, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == lengths.length, "every doc packed exactly once")
    rows.foreach { case (id, n, _, _, _) =>
      assert(n == lengths(id.toInt), s"doc $id token count") }
    // group by (shard, bin): fill = sum of member tokens; fill ≤ cap
    // unless the bin is a single oversized doc
    val byBin = rows.groupBy(r => (r._3, r._4)).values
    byBin.foreach { bin =>
      val tot = bin.map(_._2).sum
      assert(bin.map(_._5).max == tot, "bin_fill is the running sum")
      assert(tot <= cap || bin.length == 1,
        s"overfull multi-doc bin: $bin")
      // docs in a bin are consecutive by doc_id (atomic greedy fill)
      val ids = bin.map(_._1).sorted
      assert(ids.zip(ids.tail).forall { case (a, b) => b == a + 1 },
        s"bin holds non-consecutive docs: $ids")
    }
    // greedy property per shard: the first doc of bin b+1 would have
    // overflowed bin b — no bin closed early
    rows.groupBy(_._3).values.foreach { shard =>
      val bins = shard.groupBy(_._4).toSeq.sortBy(_._1)
      bins.zip(bins.tail).foreach { case ((_, cur), (_, next)) =>
        val curFill = cur.map(_._2).sum
        val firstNext = next.minBy(_._1)._2
        assert(curFill + firstNext > cap,
          s"bin closed early: fill $curFill + next $firstNext <= $cap")
      }
    }
  }
}
