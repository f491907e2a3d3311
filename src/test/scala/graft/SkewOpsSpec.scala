package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SkewOps

/** Salted two-phase plans must be result-identical to their unsalted
  * forms — checked on a synthetic corpus where one key owns 90% of the
  * rows (the shape that motivates salting). */
class SkewOpsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private lazy val skewed = {
    val rng = new scala.util.Random(3)
    Seq.fill(5000)(
      (if (rng.nextDouble() < 0.9) "hot" else s"k${rng.nextInt(50)}",
       rng.nextInt(100).toDouble))
      .toDF("key", "value")
  }

  test("saltedCount == groupBy count") {
    val direct = skewed.groupBy($"key").count()
      .as[(String, Long)].collect().toMap
    val salted = SkewOps.saltedCount(skewed, $"key", 16)
      .as[(String, Long)].collect().toMap
    assert(salted === direct)
    assert(direct("hot") > 4000)   // the skew is real
  }

  test("saltedSum == groupBy sum") {
    val direct = skewed.groupBy($"key").agg(sum($"value"))
      .as[(String, Double)].collect().toMap
    val salted = SkewOps.saltedSum(skewed, $"key", $"value", 16)
      .as[(String, Double)].collect().toMap
    assert(salted.keySet === direct.keySet)
    salted.foreach { case (k, v) =>
      assert(math.abs(v - direct(k)) < 1e-6, k)
    }
  }

  test("salted k-NN join == plain on a 90%-hot-bucket corpus, and spreads it") {
    import graft.operators.SimilarityOps
    // 90% of vectors are IDENTICAL → they land in one LSH bucket, the
    // exact shape that saturates a single reducer in the bucket
    // equi-join at corpus scale
    val rng = new scala.util.Random(7)
    val hot = Seq.fill(SimilarityOps.Dim)(rng.nextGaussian())
    val rows = (0L until 300L).map { i =>
      (i, if (i % 10 != 0) hot
          else Seq.fill(SimilarityOps.Dim)(rng.nextGaussian()))
    }
    val emb = rows.toDF("vec_id", "e")
    val plain = SimilarityOps.knnJoinFrame(spark, emb)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val salted = SimilarityOps.knnJoinFrame(spark, emb, salts = 8)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(plain.nonEmpty)
    assert(salted === plain)   // the salt must never reach the ranking
    // the hot bucket is real, and the content-derived salt fans its
    // candidate rows out across reducers (identical vectors still salt
    // apart — vec_id is part of the hashed row)
    val b = emb.withColumn("bucket", SimilarityOps.lshSignature($"e"))
    val hotBucket = b.groupBy($"bucket").count()
      .orderBy($"count".desc).first().getLong(0)
    assert(b.filter($"bucket" === hotBucket).count() >= 250)
    val spread = b.filter($"bucket" === hotBucket)
      .select(pmod(xxhash64(struct($"vec_id", $"e", $"bucket")), lit(8L)))
      .distinct().count()
    assert(spread >= 4)
  }

  test("saltedJoin == plain inner join") {
    val dim = (Seq("hot") ++ (0 until 50).map(i => s"k$i"))
      .zipWithIndex.toDF("key", "attr")
    val direct = skewed.join(dim, "key")
      .groupBy($"key").agg(count("*").as("n"), sum($"attr").as("s"))
      .as[(String, Long, Long)].collect().toSet
    val salted = SkewOps.saltedJoin(skewed, dim, "key", 16)
      .groupBy($"key").agg(count("*").as("n"), sum($"attr").as("s"))
      .as[(String, Long, Long)].collect().toSet
    assert(salted === direct)
  }
}
