package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Semantic
import graft.tfidf.TfIdf

/** Serving-shaped behaviour of the related-terms query over one
  * persisted TF-IDF table: the derived query term, and generated code
  * that new query terms reuse instead of recompiling.
  */
class SemanticServeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def corpus(lines: (String, String)*): DataFrame = {
    import spark.implicits._
    lines.toDF("doc_id", "text")
  }

  test("queryTermFrom: a df tie goes to the lexicographically smallest term") {
    // zeta and beta share the top df over repeated (term, df) rows;
    // alpha sorts first but has a lower df
    val tf = TfIdf.tfidf(corpus(
      "d1" -> "zeta beta zeta",
      "d2" -> "beta zeta",
      "d3" -> "alpha gamma",
      "d4" -> "zeta beta alpha"))
    assert(Semantic.queryTermFrom(tf) == "beta")
  }

  test("new query terms reuse the generated code of the first query (no per-query literal)") {
    val tf = TfIdf.tfidf(corpus(
      "d1" -> "t0 t1 t2 t3 t4 t5 x",
      "d2" -> "t0 t0 t1 t2 y",
      "d3" -> "t1 t3 t3 t3 z",
      "d4" -> "t2 t4 t4 t5 x y",
      "d5" -> "t5 t5 t5 t0 z w",
      "d6" -> "w x y z")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val terms = Seq("t0", "t1", "t2", "t3", "t4", "t5")
      val norms = terms.map { t =>
        tf.filter(col("term") === t)
          .collect().map(r => math.pow(r.getAs[Double]("tfidf"), 2)).sum
      }
      assert(norms.distinct.size == norms.size, s"query norms must differ: $norms")
      for (b <- Seq(true, false)) {
        def run(t: String) = Semantic.relatedTermsFrom(tf, t, 3, None, broadcastQuery = b).collect()
        assert(run(terms.head).nonEmpty) // warm-up: compiles the query's classes
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        terms.tail.foreach(t => assert(run(t).nonEmpty, t))
        assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
          s"broadcastQuery=$b: a later query term compiled new classes")
      }
    } finally tf.unpersist(false)
  }
}
