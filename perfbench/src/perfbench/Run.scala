package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.ops.Dedup
import graft.sim.Semantic
import graft.sources.CorpusReader
import graft.tfidf.TfIdf

/** JVM side of the benchmark: runs one workload through the program's
  * public functions as one closed-loop client, and writes what it timed,
  * the outputs the correctness gates need and, when traced, the
  * per-layer figures to a JSON file.
  *
  * Usage: perfbench.Run --workload W --inputs DIR --work DIR --seconds S
  *   --trace 0|1 --cores N --seed N --out FILE
  */
object Run {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val spark = SparkSession.builder()
      .master(s"local[${o("cores")}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o("cores"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"${o("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o("work")}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o("work")}/tmp")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3
    val run = new Run(spark, new Tracer(spark, o("trace") == "1"), o("inputs"), o("work"),
      o("seconds").toDouble, o("cores").toInt, o("seed").toLong)
    o("workload") match {
      case "serve_terms" => run.serveTerms()
      case "ops_mix" => run.opsMix()
    }
    Files.writeString(Paths.get(o("out")), Json(run.report(sessionS)))
    spark.stop()
  }
}

final class Run(spark: SparkSession, tr: Tracer, in: String, work: String,
    seconds: Double, cores: Int, seed: Long) {

  private val setupSteps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val ops = mutable.ArrayBuffer.empty[(String, Double)]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var checks = 0
  private var timedWall = 0.0
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val outputs = mutable.LinkedHashMap.empty[String, Any]

  private def now(): Long = System.nanoTime()
  private def secsSince(t0: Long): Double = (now() - t0) / 1e9

  /** A set-up step; repeated steps count once, at their median. */
  private def setup[T](step: String)(body: => T): T = {
    val t0 = now()
    val r = tr.span("setup")(body)
    setupSteps.getOrElseUpdate(step, mutable.ArrayBuffer.empty) += secsSince(t0)
    r
  }

  /** One timed operation of the closed-loop client. A failure is
    * recorded and the loop goes on; the gates count it as failed. */
  private def op[T](kind: String)(body: => T): Option[T] = {
    val t0 = now()
    try {
      val r = body
      ops += ((kind, secsSince(t0)))
      Some(r)
    } catch {
      case e: Exception =>
        ops += ((kind, secsSince(t0)))
        failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }

  /** The timed region: rounds `step(0)`, `step(1)`, ... run while the
    * last round's length still fits in `seconds`; the first always runs. */
  private def timed(step: Int => Unit): Unit = tr.span("timed") {
    val t0 = now()
    var i = 0
    var last = 0.0
    while (i == 0 || secsSince(t0) + last <= seconds) {
      val r0 = now()
      step(i)
      last = secsSince(r0)
      i += 1
    }
    timedWall = secsSince(t0)
  }

  private def lines(name: String): Seq[String] =
    Files.readAllLines(Paths.get(in, name)).asScala.toSeq.filter(_.nonEmpty)

  private def queryStream(): IndexedSeq[(String, String)] =
    lines("queries.tsv").map { l => val a = l.split("\t"); (a(0), a(1)) }.toIndexedSeq

  // Traced runs persist and count each layer's output, so that layer's
  // span holds its own work; untraced runs leave the chain lazy.
  private val boundaries = mutable.ArrayBuffer.empty[DataFrame]
  private def boundary(df: DataFrame): DataFrame =
    if (!tr.enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      tr.attr("rows", p.count().toDouble)
      boundaries += p
      p
    }
  private def dropBoundaries(): Unit = {
    boundaries.foreach(_.unpersist(true))
    boundaries.clear()
  }

  private def storageBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Corpus file → persisted TF-IDF table, then a closed loop of
    * `relatedTermsFrom` queries over it. */
  def serveTerms(): Unit = {
    val path = s"$in/corpus.txt"
    def build(): DataFrame = {
      val docs = tr.span("sources.read")(boundary(CorpusReader.readCorpus(spark, path)))
      tr.span("tfidf.tokens")(boundary(TfIdf.tokens(docs)))
      tr.span("tfidf.counts")(boundary(TfIdf.termCounts(docs)))
      val tf = tr.span("tfidf.build") {
        val t = TfIdf.tfidf(docs).persist(StorageLevel.MEMORY_AND_DISK)
        tr.attr("rows", t.count().toDouble)
        t
      }
      dropBoundaries()
      tf
    }
    // the table is built three times, each dropped before the next so
    // the cache cannot answer it; set-up counts the median build
    val tf = (2 to 3).foldLeft(setup("build")(build())) { (prev, _) =>
      prev.unpersist(true)
      setup("build")(build())
    }
    values("serve.cached_mb") = storageBytes() / 1e6
    setup("query_term")(tr.span("sim.query_term")(Semantic.queryTermFrom(tf)))
    val stream = queryStream()
    val results = mutable.ArrayBuffer.empty[Seq[Any]]
    // warm-up: JIT and codegen for the query path, on terms from the
    // stream's far end that a timed run never reaches. After six warm-up
    // queries, latencies still fell by a tenth over the timed region.
    setup("warmup") {
      (1 to 12).foreach(i => Semantic.relatedTermsFrom(tf, stream(stream.size - i)._1, 5).collect())
    }
    timed { i =>
      val (term, cls) = stream(i % stream.size)
      op("query") {
        tr.span("sim.query", cls) {
          val df = tr.span("sim.norm", cls)(Semantic.relatedTermsFrom(tf, term, 5))
          val rows = tr.span("sim.agg", cls)(df.collect())
          tr.attr("results", rows.length.toDouble)
          results += Seq(term, cls, rows.toSeq.map(r => Seq(r.getString(0), r.getDouble(1))))
        }
      }
    }
    outputs("queries") = results.toSeq
  }

  private def dirStats(dir: String): Map[String, (Long, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      finally s.close()
    }
  }

  /** A dedup op; traced runs attach how many files in the state dir it
    * created or rewrote. */
  private def stateOp[T](name: String, st: String)(body: => T): Option[T] =
    op(name.stripPrefix("dedup.")) {
      tr.span(name) {
        val before = if (tr.enabled) dirStats(st) else Map.empty[String, (Long, Long)]
        val r = body
        if (tr.enabled) {
          val after = dirStats(st)
          tr.attr("files_written", after.count { case (f, v) => !before.get(f).contains(v) }.toDouble)
        }
        r
      }
    }

  // The two open regressions (q_chunk_overlap, q_selfjoin_cost), two of
  // the job-count targets (q_jaccard_prefix, q_label_prop) and one
  // Classify query: short, scheduling-bound jobs in layers the term
  // workload never reaches, few enough that a round fits a run.
  private val Mix = Seq("q_chunk_overlap", "q_selfjoin_cost", "q_jaccard_prefix",
    "q_label_prop", "q_nb_classify")

  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Rounds of the dedup lifecycle (ingest the corpus in batches into a
    * fresh state dir, delete a seeded id set, maintain, read the
    * assignment back) followed by a seeded-order sweep of declared
    * queries to `.count()`, timed as one op. Set-up runs each part once
    * untimed: a two-batch lifecycle, and a sweep that writes each
    * query's result for the oracle gate. */
  def opsMix(): Unit = {
    import spark.implicits._
    val batches = (0 until 4).map(b => s"$in/batch$b.parquet")
    val delIds = lines("delete_ids.txt").map(_.toLong).toDF("doc_id")
    val inputBytes = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(in, "summary.json").toFile).get("input_bytes").asDouble
    val queries = SparkEntry.queries
    val recalls = mutable.ArrayBuffer.empty[Double]
    val stateBytes = mutable.ArrayBuffer.empty[Double]
    val assignments = mutable.ArrayBuffer.empty[DataFrame]

    setup("warmup") {
      // two batches, so both the from-scratch and the incremental ingest
      // paths are warm before the timed lifecycle
      val st = s"$work/state-warmup"
      Dedup.clustersIngestBatch(spark.read.parquet(batches(0)), 0, st)
      Dedup.clustersIngestBatch(spark.read.parquet(batches(1)), 1, st)
      Dedup.deleteFromDedupState(spark, st, delIds)
      Dedup.maintainDedupState(spark, st).collect()
      Dedup.readClusterAssignment(spark, st).count()
      Mix.foreach { q =>
        try queries(q)(spark, in).coalesce(1).write.mode("overwrite").parquet(s"$work/mix/$q")
        catch { case e: Exception => failures += s"$q: ${e.getMessage}".take(500) }
        clearCaches()
      }
    }
    outputs("results_dir") = s"$work/mix"
    outputs("oracle_sql") = Mix.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap

    timed { k =>
      val st = s"$work/state$k"
      val ok = batches.zipWithIndex.forall { case (b, i) =>
        stateOp("dedup.ingest", st)(Dedup.clustersIngestBatch(spark.read.parquet(b), i, st)).isDefined
      } && stateOp("dedup.delete", st)(Dedup.deleteFromDedupState(spark, st, delIds)).isDefined
      if (ok) {
        stateOp("dedup.maintain", st)(Dedup.maintainDedupState(spark, st).collect().head)
          .foreach { rep =>
            val recall = rep.getAs[Double]("dup_recall")
            recalls += recall
            if (recall != 1.0) failures += s"maintain report dup_recall=$recall (want 1.0)"
          }
        stateOp("dedup.read", st)(Dedup.readClusterAssignment(spark, st).count())
        stateBytes += dirStats(st).values.map(_._1).sum.toDouble
        assignments += Dedup.readClusterAssignment(spark, st)
      }
      op("sweep") {
        tr.span("ops.sweep") {
          new scala.util.Random(seed * 1000 + k).shuffle(Mix).foreach { q =>
            tr.span(s"ops.$q")(queries(q)(spark, in).count())
            clearCaches()
          }
        }
      }
    }

    // gate: each final assignment equals a from-scratch batch clustering
    // of the surviving documents (the q_dedup_maintained rule; the batch
    // path is itself pinned to DuckDB by the q_dedup_clusters oracle)
    val survivors = spark.read.parquet(batches: _*).join(delIds, Seq("doc_id"), "left_anti")
    val expected = Dedup.dupClusters(survivors, 0.5).collect().map(_.toSeq).toSet
    assignments.zipWithIndex.foreach { case (a, k) =>
      val got = a.select("doc_id", "cluster_id", "cluster_size").collect().map(_.toSeq)
      if (got.length != expected.size || got.toSet != expected)
        failures += s"lifecycle $k: assignment (${got.length} rows) != from-scratch clustering " +
          s"(${expected.size} rows)"
    }
    checks += assignments.size
    values("dedup.state_bytes_per_input_byte") = Stats.median(stateBytes.toSeq) / inputBytes
    values("dedup.dup_recall") = Stats.median(recalls.toSeq)
  }

  private def layerMetrics(): Map[String, Double] = {
    def med(xs: Seq[Double]): Double = Stats.median(xs)
    def secs(name: String, tag: String = null) = med(tr.named(name, tag).map(_.seconds))
    def attr(name: String, k: String) = med(tr.named(name).map(_.attrs.getOrElse(k, 0.0)))
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("sources.read_s") = secs("sources.read")
    m("sources.rows") = attr("sources.read", "rows")
    m("tfidf.tokens_s") = secs("tfidf.tokens")
    m("tfidf.counts_s") = secs("tfidf.counts")
    m("tfidf.build_s") = secs("tfidf.build")
    m("tfidf.rows") = attr("tfidf.build", "rows")
    val tfidfSpans = Seq("tfidf.tokens", "tfidf.counts", "tfidf.build")
    def tfidfSum(f: Work => Long): Double = {
      // per table built: sum over the three tfidf spans of each build
      val builds = tr.named("tfidf.build")
      med(builds.map { b =>
        tr.spans.filter(s => tfidfSpans.contains(s.name) && s.parent == b.parent)
          .map(s => f(tr.work(s)).toDouble).sum
      }.toSeq)
    }
    m("tfidf.shuffle_write_bytes") = tfidfSum(_.shuffleWrite)
    m("tfidf.spill_bytes") = tfidfSum(_.spill)
    m("tfidf.jobs") = tfidfSum(_.jobs)
    m("sim.query_term_s") = secs("sim.query_term")
    for (cls <- Seq("head", "tail", "absent")) {
      val qs = tr.named("sim.query", cls)
      def per(f: Span => Double) = med(qs.map(f))
      def child(q: Span, name: String) =
        tr.spans.find(s => s.parent == q.id && s.name == name).fold(0.0)(_.seconds)
      m(s"sim.$cls.query_s") = per(_.seconds)
      m(s"sim.$cls.norm_s") = per(child(_, "sim.norm"))
      m(s"sim.$cls.agg_s") = per(child(_, "sim.agg"))
      m(s"sim.$cls.jobs_per_query") = per(q => tr.work(q).jobs.toDouble)
      m(s"sim.$cls.tasks_per_query") = per(q => tr.work(q).tasks.toDouble)
      m(s"sim.$cls.shuffle_bytes_per_query") =
        per(q => (tr.work(q).shuffleWrite + tr.work(q).shuffleRead).toDouble)
      m(s"sim.$cls.rows_read_per_query") = per(q => tr.work(q).rowsRead.toDouble)
      m(s"sim.$cls.rows_per_result") = med(qs.filter(_.attrs.getOrElse("results", 0.0) > 0)
        .map(q => tr.work(q).rowsRead / q.attrs("results")))
    }
    m("serve.cached_mb") = values.getOrElse("serve.cached_mb", 0.0)
    val dedupOps = Seq("dedup.ingest", "dedup.delete", "dedup.maintain", "dedup.read")
    dedupOps.foreach(n => m(s"${n}_s") = secs(n))
    val dops = tr.spans.toSeq.filter(s => dedupOps.contains(s.name))
    m("dedup.jobs_per_op") = med(dops.map(s => tr.work(s).jobs.toDouble))
    m("dedup.bytes_written") = med(dops.map(s => tr.work(s).outputBytes.toDouble))
    m("dedup.files_written") = med(dops.map(_.attrs.getOrElse("files_written", 0.0)))
    m("dedup.state_bytes_per_input_byte") = values.getOrElse("dedup.state_bytes_per_input_byte", 0.0)
    m("dedup.dup_recall") = values.getOrElse("dedup.dup_recall", 0.0)
    m("ops.mix_s") = secs("ops.sweep")
    Mix.foreach { q =>
      val s = tr.named(s"ops.$q")
      m(s"ops.$q.s") = med(s.map(_.seconds))
      m(s"ops.$q.jobs") = med(s.map(x => tr.work(x).jobs.toDouble))
      m(s"ops.$q.tasks") = med(s.map(x => tr.work(x).tasks.toDouble))
    }
    val t = tr.named("timed").headOption
    val w = t.fold(new Work)(tr.work)
    val wall = t.fold(0.0)(_.seconds)
    m("spark.jobs") = w.jobs.toDouble
    m("spark.task_run_s") = w.runMs / 1e3
    m("spark.task_wait_s") = w.waitMs / 1e3
    m("spark.core_util") = if (wall > 0) w.runMs / 1e3 / (wall * cores) else 0.0
    m("spark.failed_tasks") = w.failedTasks.toDouble
    m.toMap
  }

  def report(sessionS: Double): Map[String, Any] = Map(
    "session_s" -> sessionS,
    "setup_steps_s" -> setupSteps.map { case (k, v) => k -> v.toSeq }.toMap,
    "ops" -> ops.toSeq.map { case (k, s) => Seq(k, s) },
    "timed_wall_s" -> timedWall,
    "failures" -> failures.toSeq,
    "checks" -> checks,
    "outputs" -> outputs.toMap,
    "layers" -> (if (tr.enabled) layerMetrics() else Map.empty[String, Double]))
}

/** Minimal JSON encoder for the report's maps, sequences and scalars. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
