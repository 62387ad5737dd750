package graft.sim

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.types._

import graft.tfidf.TfIdf

/** Term-term semantic similarity: cosine between document-space TF-IDF
  * vectors (reference: /root/reference/app.py:66-111,145-179).
  *
  * The reference collects the query vector to a driver dict and ships it
  * in every task closure (app.py:153-162); here it is a broadcast hash
  * join (the vector has at most one row per document containing the
  * query). For a pathological stop-word query at extreme scale the
  * broadcast could exceed limits, so the join strategy is a parameter —
  * `broadcastQuery = false` falls back to a shuffled left join.
  *
  * A per-query driver value enters a plan as data, never as a literal:
  * codegen writes numeric literals into the generated Java source, so a
  * literal query norm would compile fresh classes for every new query
  * term, while a column keeps the generated code identical across terms.
  *
  * The algorithm needs two passes over the TF-IDF table (the query
  * vector, then the candidate aggregation; a third when the query term
  * is derived from the data), so [[relatedTerms]] persists it once
  * instead of recomputing the tokenize→count→window chain per pass — the
  * 100 TB analogue is checkpointing the tf-idf table, which a
  * multi-query service would share across requests anyway.
  */
object Semantic {

  val outputSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("sim", DoubleType)))

  /** Deterministic data-derived query term: highest document frequency,
    * ties broken by lexicographically smallest term. Keeps declared
    * queries hash-stable across scale factors (SURVEY.md §7.4.6) —
    * the DuckDB oracle derives the same term with the same rule. `df`
    * is a function of `term`, so the table's repeated (term, df) rows
    * cannot change the answer and need no `distinct()` shuffle.
    */
  def queryTermFrom(tf: DataFrame): String =
    tf.select(col("term"), col("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(1)
      .collect()
      .headOption.map(_.getString(0))
      .getOrElse("")

  def defaultQueryTerm(docs: DataFrame): String = queryTermFrom(TfIdf.tfidf(docs))

  /** Top-k terms most similar to `query`, computing and caching the
    * TF-IDF table internally. The top-k result (k rows) is eagerly
    * materialized so the TF-IDF working cache can be dropped before
    * returning — repeated library calls must not accumulate
    * MEMORY_AND_DISK state. Multi-query serving should build the tf
    * table once and use [[relatedTermsFrom]], which leaves caching to
    * the caller. See [[relatedTermsFrom]].
    */
  def relatedTerms(
      docs: DataFrame,
      query: String,
      k: Int = 5,
      termPred: Option[Column] = None,
      broadcastQuery: Boolean = true,
      roundDigits: Int = 9): DataFrame =
    onPersistedTfIdf(docs)(relatedTermsFrom(_, query, k, termPred, broadcastQuery, roundDigits))

  /** The reference's one query with its term derived from the data: the
    * top-k terms most similar to [[queryTermFrom]], materialized like
    * [[relatedTerms]]. */
  def relatedToTopTerm(docs: DataFrame, k: Int): DataFrame =
    onPersistedTfIdf(docs)(tf => relatedTermsFrom(tf, queryTermFrom(tf), k))

  private def onPersistedTfIdf(docs: DataFrame)(query: DataFrame => DataFrame): DataFrame = {
    val tf = TfIdf.tfidf(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val out = query(tf).localCheckpoint(true)
    tf.unpersist(false)
    out
  }

  /** Top-k terms most similar to `query` over a prebuilt (ideally
    * persisted) TF-IDF table.
    *
    * Output: (term string, sim double), sim rounded to `roundDigits`
    * (Spark-vs-oracle summation-order noise), descending, ties broken by
    * term, query itself excluded, sim==0 dropped (app.py:158,172,175).
    *
    * Ranking note: the reference ranks BEFORE dividing by the query norm
    * (app.py:175 vs :178) — order-equivalent since the norm is a positive
    * constant; we normalize first and report honest cosine values
    * (SURVEY.md §7.4.3).
    */
  def relatedTermsFrom(
      tf: DataFrame,
      query: String,
      k: Int = 5,
      termPred: Option[Column] = None,
      broadcastQuery: Boolean = true,
      roundDigits: Int = 9): DataFrame = {
    val spark = tf.sparkSession
    val qvec = tf.filter(col("term") === lit(query)).select(col("doc_id"), col("tfidf").as("v1"))
    val den1Field = StructField("den1", DoubleType, nullable = false)
    // q = (doc_id, v1, den1): ‖query‖₂ rides along as a column
    val (q, den1) =
      if (broadcastQuery) {
        // one job reads the vector the broadcast would hold on the driver
        // anyway; the norm sums it in row order, and the broadcast side
        // is built from these rows with no second scan of the table
        val rows = qvec.collect()
        val den1 = math.sqrt(rows.foldLeft(0.0) { (s, r) => val v = r.getDouble(1); s + v * v })
        val local = spark.createDataFrame(
          rows.toSeq.map(r => Row(r.get(0), r.get(1), den1)).asJava,
          StructType(qvec.schema.fields :+ den1Field))
        (broadcast(local), den1)
      } else {
        // the vector stays distributed; only its norm reaches the driver
        val den1 = qvec.agg(sqrt(sum(col("v1") * col("v1")))).collect().headOption
          .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
          .getOrElse(0.0)
        val norm = spark.createDataFrame(java.util.List.of(Row(den1)), StructType(Seq(den1Field)))
        (qvec.crossJoin(broadcast(norm)), den1)
      }
    if (den1 == 0.0)
      return spark.createDataFrame(java.util.Collections.emptyList[Row], outputSchema)

    val candidates0 = tf.filter(col("term") =!= lit(query))
    val candidates = termPred.fold(candidates0)(candidates0.filter)

    candidates
      .join(q, Seq("doc_id"), "left")
      .select(col("term"), coalesce(col("v1"), lit(0.0)).as("v1"), col("tfidf"), col("den1"))
      .groupBy("term")
      .agg(
        sum(col("v1") * col("tfidf")).as("num"),
        sum(col("tfidf") * col("tfidf")).as("den2"),
        // null only for rows no query document matched; a group with
        // num != 0 has a matched row, so its den1 is the query norm
        max(col("den1")).as("den1"))
      .filter(col("num") =!= 0.0)
      .select(
        col("term"), {
          // roundDigits < 0 → raw doubles (reference-exact CLI output);
          // declared queries round for Spark-vs-oracle sum-order noise.
          // Two-step division mirrors the reference's arithmetic order
          // (app.py:110 then :178) bit-for-bit.
          val s = (col("num") / sqrt(col("den2"))) / col("den1")
          (if (roundDigits >= 0) round(s, roundDigits) else s).as("sim")
        })
      .orderBy(col("sim").desc, col("term"))
      .limit(k)
  }

  /** Reference-parity predicate: terms shaped `gene_*_gene` (app.py:145). */
  val geneTermPredicate: Column =
    col("term").startsWith("gene_") && col("term").endsWith("_gene")
}
