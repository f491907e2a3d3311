package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GraftExpressions

/** The extensions entry point must make every function available in a
  * session built with it — no imperative register() call. */
class GraftExtensionsSpec extends AnyFunSuite with SparkTestSession {

  private val names = GraftExpressions.builders.map(_._1)

  /** `body` on a fresh `GraftSession` over the shared context: a session
    * no `register` call has touched. */
  private def withProfileSession[A](body: SparkSession => A): A = {
    spark.sparkContext   // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(GraftSession().getOrCreate())
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a GraftSession resolves every graft function, in foreachBatch too") {
    withProfileSession { s =>
      assert(s ne spark)
      assert(names.filterNot(s.catalog.functionExists).isEmpty)
      val dir = java.nio.file.Files.createTempDirectory("graft-ext-batch")
      s.range(3).write.parquet(s"$dir/in")
      val batchSession = new java.util.concurrent.atomic.AtomicReference[SparkSession]()
      val missing = new java.util.concurrent.atomic.AtomicReference[Seq[String]]()
      val cos = new java.util.concurrent.atomic.AtomicReference[Double]()
      streaming.StateMaintenance.startFileDropStream(s, s"$dir/in",
          s"$dir/ckpt", None) { (batch: DataFrame, _: Long) =>
        val bs = batch.sparkSession
        batchSession.set(bs)
        missing.set(names.filterNot(bs.catalog.functionExists))
        cos.set(bs.sql("SELECT graft_cosine(array(1.0d), array(1.0d))")
          .head().getDouble(0))
      }.awaitTermination()
      assert(batchSession.get() ne null, "the stream ran no batch")
      assert(batchSession.get() ne s, "a batch runs on a clone of the session")
      assert(missing.get().isEmpty)
      assert(cos.get() === 1.0)
    }
  }

  test("register on a GraftSession leaves every registry entry as it was") {
    withProfileSession { s =>
      val reg = s.sessionState.functionRegistry
      def entries = names.map { n =>
        val id = FunctionIdentifier(n)
        (reg.lookupFunction(id).get, reg.lookupFunctionBuilder(id).get)
      }
      val before = entries
      GraftExpressions.register(s)
      names.zip(before.zip(entries)).foreach { case (n, ((i0, b0), (i1, b1))) =>
        assert((i1 eq i0) && (b1 eq b0), s"register replaced $n")
      }
    }
  }

  test("the SPARK_GRAFT_CONF parser skips empty and trailing segments") {
    assert(GraftSession.confs("") === Nil)
    assert(GraftSession.confs(";") === Nil)
    assert(GraftSession.confs("spark.a=1;;spark.b = x=y ;") ===
      Seq("spark.a" -> "1", "spark.b" -> "x=y"))
    assert(GraftSession.confs(" =v;novalue") === Nil)
  }

  test("withExtensions(GraftExtensions) injects all functions") {
    spark.sparkContext   // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      val cos = s2.sql(
        "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))")
        .head().getDouble(0)
      assert(cos === 1.0)
      val sig = s2.sql("SELECT graft_simhash(array(1L, 3L))")
        .head().getLong(0)
      // bit 0: set in both (+2) → kept; bit 1: set in one (votes 0,
      // strictly-positive required) → dropped
      assert(sig === 1L)
      val topk = s2.sql(
        """SELECT g, graft_topk(s, i, 2) FROM
          |VALUES ('a', 3.0d, 1L), ('a', 9.0d, 2L), ('a', 5.0d, 3L) t(g, s, i)
          |GROUP BY g""".stripMargin).collect()
      assert(topk.length === 1)
      val dot = s2.sql(
        "SELECT graft_long_dot(array(2L, -3L), array(5L, 7L))")
        .head().getLong(0)
      assert(dot === -11L)
      // a non-constant k must fail with the clean guard message, not an
      // opaque eval() exception from resolution
      val err = intercept[Exception] {
        s2.sql(
          """SELECT g, graft_topk(s, i, CAST(i AS INT)) FROM
            |VALUES ('a', 3.0d, 1L) t(g, s, i) GROUP BY g""".stripMargin)
          .collect()
      }
      assert(err.getMessage.contains("must be a constant integer"))
      // wrong arity fails at analysis with the function's name — extra
      // arguments are not silently ignored (the hardcoded k=3 would run)
      // and missing ones don't surface as IndexOutOfBoundsException
      val extraArg = intercept[Exception] {
        s2.sql("SELECT graft_shingle_hashes(array('a','b','c'), 5)").collect()
      }
      assert(extraArg.getMessage.contains("graft_shingle_hashes expects 1"))
      val missingArg = intercept[Exception] {
        s2.sql("SELECT graft_zorder(1L)").collect()
      }
      assert(missingArg.getMessage.contains("graft_zorder expects 2"))
      // a fractional constant width is rejected, not truncated to 2
      val fractional = intercept[Exception] {
        s2.sql("SELECT graft_block_hashes(array('a','b','c'), 2.7)").collect()
      }
      assert(fractional.getMessage.contains("constant integer"))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
