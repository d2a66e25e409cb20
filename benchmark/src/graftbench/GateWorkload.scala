package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The gate workload: passes over a fixed list of `SparkEntry.queries`
  * in name order. Every gate's whole result is written to parquet inside
  * its timed region, the way `graft.Verify` writes it, so no column can be
  * pruned away and run.py's DuckDB check reads the very rows that were
  * timed. One warm pass over the small tables runs off the clock first. */
object GateWorkload {

  type Gate = (SparkSession, String) => DataFrame

  /** Gate list: the ROADMAP's ten named targets plus 23 gates spread
    * over the families in name order, about one in twelve of each
    * (families: relational, ER clustering, LLM-data pipeline, streaming,
    * SQL surface, graph/analytics). */
  val Gates: Seq[String] = Seq(
    // ROADMAP targets
    "q_dedup_incremental", "q_doc_fingerprint", "q_doc_repetition",
    "q_er_pipeline", "q_graph_cheapest_paths", "q_graph_kcore",
    "q_graph_label_prop", "q_image_ahash", "q_stream_join",
    "q_tfidf_doc_similarity",
    // spread over the families
    "q_binary_ingest", "q_chi_square", "q_clusters_as_arrays",
    "q_decontaminate", "q_doc_perplexity", "q_exact_dup_groups",
    "q_group_size_histogram", "q_image_decode", "q_impute", "q_join_semi",
    "q_link_prediction", "q_modal_assignment", "q_mom_growth",
    "q_pca_power", "q_skew_salted_distinct", "q_sql_group_by_all",
    "q_sql_rollup", "q_stream_ann_pairs", "q_stream_ewma",
    "q_stream_perplexity", "q_strip_accents", "q_warehouse_profile",
    "q_zone_map_append")

  val Families: Seq[(String, Map[String, Gate])] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "Clustering" -> graft.queries.Clustering.queries,
    "Pipeline" -> graft.queries.Pipeline.queries,
    "StreamingQueries" -> graft.queries.StreamingQueries.queries,
    "SqlSurface" -> graft.queries.SqlSurface.queries,
    "Analytics" -> graft.queries.Analytics.queries)

  def familyOf(name: String): String =
    Families.collectFirst { case (f, qs) if qs.contains(name) => f }.get

  /** Gates whose plan is an iterative loop (one Spark job per round). */
  def isLoop(name: String): Boolean = name.startsWith("q_graph_")

  /** Tables are written by run.py (gendata.py) under `work`/data. */
  def run(spark: SparkSession, seconds: Double, work: String,
      tracer: Option[Trace]): Seq[(String, String)] = {
    val queries = graft.SparkEntry.queries
    val names = Gates.sorted
    val warmDir = s"$work/data/warm"
    val dataDir = s"$work/data/main"

    def runGate(name: String, dir: String, out: String): Double = {
      val (_, dt) = Spans(spark, s"gate:$name") {
        queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(out)
      }
      // off the clock, as graft.Bench does: drop what the gate cached or
      // checkpointed and undo the session state a gate may install
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.experimental.extraOptimizations = Nil
      try spark.conf.unset(graft.plans.BandedRangeJoinRule.ConfKey)
      catch { case scala.util.control.NonFatal(_) => () }
      dt
    }

    val (_, warmS) = Spans(spark, "setup.warm") {
      names.foreach(n => runGate(n, warmDir, s"$work/warm/$n"))
    }

    val streamMark = tracer.map(_.streamMark()).getOrElse(0)
    val gc0 = Spans.gcMs()
    val measureMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    var failed = 0
    while (rounds.isEmpty || elapsed + rounds.map(_.map(_._2).sum).max <= seconds) {
      val r = rounds.size
      rounds += names.flatMap { n =>
        try Some(n -> runGate(n, dataDir, s"$work/out/round$r/$n"))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graftbench] gate $n failed: $e")
          failed += 1
          None
        }
      }
    }
    val gcMs = Spans.gcMs() - gc0
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    // a gate that failed wrote nothing and is not checked
    rounds.indices.foreach(r => writeOracles(
      oracles.filter { case (k, _) => rounds(r).exists(_._1 == k) },
      s"$work/out/round$r"))

    tracer.foreach { t =>
      def med(xs: collection.Seq[Double]) = Stats.median(xs)
      val perGate = names.map(n => n -> rounds.flatMap(_.collect {
        case (`n`, dt) => dt })).toMap
      t.put(Families.map { case (f, _) =>
        s"gates.${f}_s" -> med(rounds.toSeq.map(_.collect {
          case (n, dt) if familyOf(n) == f => dt }.sum))
      })
      t.put(names.map(n => s"gate.${n}_s" -> med(perGate(n).toSeq)))
      val loopJobs = names.filter(isLoop)
        .map(n => t.jobsIn(s"gate:$n", measureMs).size).sum
      t.put(Seq("gates.loop_jobs" -> loopJobs.toDouble / rounds.size))
      val spans = names.flatMap(n => Spans.all(s"gate:$n", measureMs))
      t.put(t.runtime(spans, rounds.size, gcMs))
      t.put(t.streaming(streamMark, rounds.size))
      t.put(Seq("traced.job_s" -> med(rounds.toSeq.map(_.map(_._2).sum))))
    }

    Seq(
      "attempted" -> Json.num((rounds.size * names.size).toLong),
      "failed" -> Json.num(failed.toLong),
      "warm_s" -> Json.num(warmS),
      "gates" -> Json.arr(names.map(Json.str)),
      "rounds" -> Json.arr(rounds.indices.map { r =>
        Json.obj(Seq("dir" -> Json.str(s"$work/out/round$r"),
          "times" -> Json.obj(rounds(r).map { case (n, dt) => n -> Json.num(dt) })))
      }),
      "data" -> Json.str(dataDir))
  }

  private def writeOracles(oracles: Map[String, String], dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    val json = Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"), json)
  }
}
