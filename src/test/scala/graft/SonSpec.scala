package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mining.Son

class SonSpec extends AnyFunSuite {
  import SparkTestSession._

  test("SON equals brute-force frequent itemsets on sf0.001") {
    val got = Son.sonItemsets(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap

    // brute force, driver-side, from the same baskets
    val baskets = Son.baskets(spark, sfDir)
      .select(col("basket")).collect()
      .map(_.getSeq[String](0).toSet).toSeq
    val minsup = math.max(1L,
      math.ceil(Son.SupportFrac * baskets.size).toLong)
    val expect = scala.collection.mutable.Map.empty[String, Long]
    baskets.foreach { b =>
      val items = b.toSeq.sorted
      (1 to Son.MaxSize).foreach { k =>
        items.combinations(k).foreach { c =>
          val key = c.mkString(",")
          expect.update(key, expect.getOrElse(key, 0L) + 1)
        }
      }
    }
    val frequent = expect.filter(_._2 >= minsup).toMap
    assert(got == frequent,
      s"SON ${got.size} itemsets vs brute force ${frequent.size}")
  }

  test("SON agrees with ml.fpm.FPGrowth (different algorithm, same answer)") {
    import org.apache.spark.ml.fpm.FPGrowth
    val b = Son.baskets(spark, sfDir).select(col("basket").as("items"))
    val model = new FPGrowth()
      .setItemsCol("items").setMinSupport(Son.SupportFrac).fit(b)
    val fp = model.freqItemsets.collect()
      .filter(_.getSeq[String](0).size <= Son.MaxSize)
      .map(r => (r.getSeq[String](0).sorted.mkString(","), r.getLong(1)))
      .toMap
    val son = Son.sonItemsets(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(son == fp, s"SON ${son.size} vs FPGrowth ${fp.size} itemsets")
  }

  test("local a-priori has no false negatives at partition scope") {
    val baskets = Seq(
      Array("a", "b", "c"), Array("a", "b"), Array("a", "c"),
      Array("b", "c"), Array("a", "b", "c"), Array("d"))
    val out = Son.aprioriLocal(baskets, supportFrac = 0.5, maxSize = 3)
      .map(_.mkString(",")).toSet
    // support 3 of 6: a(4) b(4) c(4) ab(3) ac(3) bc(3) abc(2 — out)
    assert(out == Set("a", "b", "c", "a,b", "a,c", "b,c"))
  }

  test("packed-long fast path == generic string path on random baskets") {
    // deterministic LCG so the property replays
    var seed = 0xC0FFEEL
    def next(n: Int): Int = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      (((seed >>> 33) % n + n) % n).toInt
    }
    (1 to 10).foreach { trial =>
      val vocab = (0 until (5 + next(20))).map(i => f"it$i%02d")
      val baskets = (0 until (20 + next(60))).map { _ =>
        val sz = 1 + next(math.min(8, vocab.size))
        (0 until sz).map(_ => vocab(next(vocab.size)))
          .distinct.sorted.toArray
      }
      (2 to 4).foreach { maxSize =>
        val fast = Son.aprioriLocal(baskets, 0.15, maxSize)
          .map(_.mkString(",")).toSet
        val gen = Son.aprioriLocalGeneric(baskets, 0.15, maxSize)
          .map(_.mkString(",")).toSet
        assert(fast == gen,
          s"trial $trial maxSize $maxSize: fast ${fast.size} vs generic ${gen.size}; " +
            s"diff ${(fast diff gen) ++ (gen diff fast)}")
      }
    }
  }

  test("phase-2 string-keyed fallback == packed path on sf0.001") {
    // the fallback only triggers past ~2M candidate vocabulary in
    // production; call it directly and pin agreement with the
    // registered (packed) query on the same candidates
    import spark.implicits._
    val b = Son.baskets(spark, sfDir).select(col("basket"))
      .as[Array[String]].repartition(4).rdd.cache()
    val (total, candidates) = Son.phase1(b, Son.SupportFrac)
    val minsup = math.max(1L, math.ceil(Son.SupportFrac * total).toLong)
    val gen = Son.phase2Generic(b, candidates, minsup).toSet
    val packed = Son.sonItemsets(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(gen == packed,
      s"generic ${gen.size} vs packed ${packed.size}; " +
        s"diff ${(gen diff packed) ++ (packed diff gen)}")
  }

  test("job pins: q28 builds in 5 jobs and writes in 1") {
    val q28 = SparkEntry.queries("q28_son_itemsets")
    val out = java.nio.file.Files.createTempDirectory("q28-jobs").toString
    q28(spark, sfDir).write.mode("overwrite").parquet(out) // warm
    val (df, build) = TestUtil.countJobs(spark)(q28(spark, sfDir))
    val (_, write) = TestUtil.countJobs(spark)(
      df.write.mode("overwrite").parquet(out))
    assert((build.size, write.size) == (5, 1),
      (build ++ Seq("-- write") ++ write).mkString("\n"))
  }
}
