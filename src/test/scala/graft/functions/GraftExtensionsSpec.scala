package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** The SQL-function registration path: kernels callable from
  * `spark.sql` like built-ins via the standard
  * `spark.sql.extensions` injection point.
  */
class GraftExtensionsSpec extends SparkSpec {

  private def withExtendedSession[A](body: SparkSession => A): A = {
    // materialize the suite session FIRST, so the shared context is
    // built from its config whichever suite runs first
    spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions (not the spark.sql.extensions conf): the conf is a
    // STATIC setting read only when the SparkContext is created, so it
    // is silently ignored when a context already exists — as it does
    // under the full test suite
    val s2 = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try body(s2)
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("vec_dot / vec_cosine / distinct_shingles are SQL-callable") {
    withExtendedSession { s2 =>
      val dot = s2.sql(
        "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head().getDouble(0)
      dot shouldBe 11.0

      val cos = s2.sql(
        "SELECT vec_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head().getDouble(0)
      cos shouldBe 1.0 +- 1e-12

      val sh = s2.sql(
        "SELECT distinct_shingles('a b c d', 3) AS s").head().getSeq[String](0)
      sh shouldBe Seq("a b c", "b c d")

      // generator composition works like any built-in array function
      val n = s2.sql(
        "SELECT explode(distinct_shingles('a b a b a b', 2)) AS s").count()
      n shouldBe 2 // 'a b' and 'b a', deduped
    }
  }

  test("quantization kernels and the minhash aggregate are SQL-callable") {
    withExtendedSession { s2 =>
      val m = s2.sql(
        "SELECT vec_max_abs(array(1.0d, -3.5d, 2.0d)) AS m").head().getDouble(0)
      m shouldBe 3.5

      val q = s2.sql(
        "SELECT vec_quant_i8(array(1.0d, -0.5d), 0.5d) AS q").head().getSeq[Byte](0)
      q shouldBe Seq[Byte](2, -1)

      // quantize -> int8 cosine round-trips close to the double cosine
      val c = s2.sql(
        """SELECT vec_cosine_i8(vec_quant_i8(array(0.6d, 0.8d), 0.01d),
          |                     vec_quant_i8(array(0.6d, 0.8d), 0.02d)) AS c"""
          .stripMargin).head().getDouble(0)
      c shouldBe 1.0 +- 1e-3

      // aggregate over a grouped table, exactly like a built-in agg; must
      // be BIT-IDENTICAL to the composed min(xxhash64(lit(i), x)) form
      s2.range(0, 100).selectExpr("id % 2 AS g", "id AS x")
        .createOrReplaceTempView("mh_in")
      val sig = s2.sql(
        "SELECT g, minhash_signature(x, 4) AS sig FROM mh_in GROUP BY g ORDER BY g")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
      val expected = s2.sql(
        """SELECT g,
          |  array(min(xxhash64(0, x)), min(xxhash64(1, x)),
          |        min(xxhash64(2, x)), min(xxhash64(3, x))) AS sig
          |FROM mh_in GROUP BY g ORDER BY g""".stripMargin)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
      sig shouldBe expected
    }
  }

  test("non-literal shingle size is rejected with a clear error") {
    withExtendedSession { s2 =>
      val ex = intercept[Exception] {
        s2.sql("SELECT distinct_shingles('a b c', 1 + 2)").collect()
      }
      ex.getMessage should include ("integer literal")
    }
  }

  test("bloom_agg and frequent_items work as SQL aggregates") {
    withExtendedSession { s2 =>
      val bf = s2.sql(
        "SELECT bloom_agg(x, 4096, 5) AS bf FROM VALUES (1L),(2L),(3L) t(x)")
        .head().getAs[Array[Byte]]("bf")
      bf.length shouldBe 4096 / 8
      // the sketch contains what it saw
      val words = new Array[Long](bf.length / 8)
      java.nio.ByteBuffer.wrap(bf).asLongBuffer().get(words)
      Seq(1L, 2L, 3L).foreach { v =>
        BloomRuntime.mightContain(words, 4096, 5, v) shouldBe true
      }

      val fi = s2.sql(
        "SELECT frequent_items(w, 16) AS fi FROM VALUES ('a'),('a'),('b') t(w)")
        .head().getAs[Map[String, Long]]("fi")
      fi shouldBe Map("a" -> 2L, "b" -> 1L)

      val cp = s2.sql("SELECT char_pairs('abc') AS p")
        .head().getSeq[String](0)
      cp shouldBe Seq("ab", "bc")

      // empty selector samples every position: len - k + 1 digests on
      // an all-distinct-gram string, each matching SQL md5(substring)
      val sh = s2.sql("SELECT sampled_span_hashes('abcdef', 4, '') AS h")
        .head().getSeq[String](0)
      val expected = s2.sql(
        """SELECT array(md5('abcd'), md5('bcde'), md5('cdef')) AS e""")
        .head().getSeq[String](0)
      sh shouldBe expected
    }
  }
}
