package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{ConstantSimilarity, LevenshteinSimilarity}
import graft.er._
import graft.er.model._

/** The ER workloads: whole ER jobs (initialize → Sampler.run with a
  * thinned parquet chain → shared most-probable clusters → evaluation)
  * on records generated from the run's seed, called only through the
  * program's public functions. */
object ErWorkload {

  /** One ER job shape. `entities` planted entities; `twoFiles` splits
    * them over two snapshot files (NCVR shape) instead of one file with
    * 10% duplicates (RLdata shape). */
  final case class Shape(
      name: String,
      entities: Int,
      twoFiles: Boolean,
      sampler: GibbsKernel.SamplerKind,
      kdLevels: Int,
      splitAttrs: Seq[Int],
      sweeps: Int,
      thin: Int)

  val shapes: Map[String, Shape] = Seq(
    Shape("er_ncvr", 51500, twoFiles = true, GibbsKernel.Gibbs,
      kdLevels = 4, splitAttrs = Seq(0, 1), sweeps = 20, thin = 10),
    Shape("er_rl10k", 9090, twoFiles = false, GibbsKernel.PCG1,
      kdLevels = 1, splitAttrs = Seq(0), sweeps = 40, thin = 10)
  ).map(s => s.name -> s).toMap

  val SamplerSeed = 319158L

  private val prior = BetaParams(0.5, 50.0)
  val specs: Seq[AttributeSpec] = Seq(
    AttributeSpec("fname", LevenshteinSimilarity(7.0, 10.0), prior),
    AttributeSpec("lname", LevenshteinSimilarity(7.0, 10.0), prior),
    AttributeSpec("by", ConstantSimilarity, prior),
    AttributeSpec("bm", ConstantSimilarity, prior),
    AttributeSpec("bd", ConstantSimilarity, prior))

  /** Records with their planted entity id (`ent_id`), drawn from `seed`.
    * Name pools and distortion rates follow the in-repo generators
    * (src/test/.../ERPerfBaseline.scala and NcvrRehearsal.scala). */
  def generate(shape: Shape, seed: Long)
      : Seq[(String, String, String, String, String, String, String, String)] = {
    val firstNames = (0 until 400).map(i => s"NAME${i}X${i % 7}")
    val lastNames = (0 until 150).map(i => s"SURNAME${i}Y")
    val rng = new SplittableRandom(seed)
    def distort(s: String): String =
      s.updated(rng.nextInt(s.length), ('A' + rng.nextInt(26)).toChar)
    (0 until shape.entities).flatMap { e =>
      val fn = firstNames(rng.nextInt(firstNames.length))
      val ln = lastNames(rng.nextInt(lastNames.length))
      val by = (1940 + rng.nextInt(60)).toString
      val bm = (1 + rng.nextInt(12)).toString
      val bd = (1 + rng.nextInt(28)).toString
      val ent = e.toString
      if (shape.twoFiles) {
        // two snapshots; 25% of B records carry one changed field
        val inA = rng.nextInt(100) < 97
        val inB = !inA || rng.nextInt(100) < 97
        val a = if (inA) Seq((s"A-$e", "A", ent, fn, ln, by, bm, bd)) else Nil
        val b = if (!inB) Nil
          else if (rng.nextInt(4) != 0) Seq((s"B-$e", "B", ent, fn, ln, by, bm, bd))
          else Seq(rng.nextInt(10) match {
            case 0 | 1 | 2 | 3 => (s"B-$e", "B", ent, distort(fn), ln, by, bm, bd)
            case 4 | 5 | 6 => (s"B-$e", "B", ent, fn, distort(ln), by, bm, bd)
            case 7 => (s"B-$e", "B", ent, fn, ln, distort(by), bm, bd)
            case 8 => (s"B-$e", "B", ent, fn, ln, by, (1 + rng.nextInt(12)).toString, bd)
            case _ => (s"B-$e", "B", ent, fn, ln, by, bm, (1 + rng.nextInt(28)).toString)
          })
        a ++ b
      } else {
        val base = (s"rec-$e-0", "0", ent, fn, ln, by, bm, bd)
        if (rng.nextInt(10) != 0) Seq(base)
        else Seq(base, rng.nextInt(5) match {
          case 0 => (s"rec-$e-1", "0", ent, distort(fn), ln, by, bm, bd)
          case 1 => (s"rec-$e-1", "0", ent, fn, distort(ln), by, bm, bd)
          case 2 => (s"rec-$e-1", "0", ent, fn, ln, distort(by), bm, bd)
          case _ => (s"rec-$e-1", "0", ent, fn, ln, by, bm, bd)
        })
      }
    }
  }

  /** Length-blocked candidate pairs the neighbour build compares, from the
    * built dictionaries: equal-length pairs once, plus every pair whose
    * longer value is within `maxLengthGap(shorter)` (capped at 64). */
  def candidatePairs(idx: ModelIndex): Long = idx.attributes.map { a =>
    a.similarity match {
      case lev: LevenshteinSimilarity =>
        val byLen = a.values.groupBy(v => v.codePointCount(0, v.length))
          .map { case (l, vs) => l -> vs.length.toLong }
        byLen.map { case (l, n) =>
          val gap = math.min(lev.maxLengthGap(l), 64)
          n * (n - 1) / 2 + (l + 1 to l + gap).map(byLen.getOrElse(_, 0L)).sum * n
        }.sum
      case _ => 0L
    }
  }.sum

  def neighborPairs(idx: ModelIndex): Long =
    idx.attributes.map(_.neighbors.map(_.length.toLong).sum / 2).sum

  def run(spark: SparkSession, shape: Shape, seed: Long, seconds: Double,
      work: String, tracer: Option[Trace]): Seq[(String, String)] = {
    import spark.implicits._
    val sc = spark.sparkContext

    // the inputs, generated and written once, off every clock
    def prepare(sh: Shape, dir: String): Unit =
      generate(sh, seed)
        .toDF("rec_id", "src", "ent_id", "fname", "lname", "by", "bm", "bd")
        .write.mode("overwrite").parquet(dir)
    val warmShape = shape.copy(entities = shape.entities / 10)
    prepare(warmShape, s"$work/warm-input")
    prepare(shape, s"$work/input")
    val truth = spark.read.parquet(s"$work/input").cache()
    truth.count()
    val fileCol = if (shape.twoFiles) Some("src") else None

    final case class Job(dir: String, initS: Double, indexS: Double, fitS: Double,
        buildS: Double, sampleS: Double, smpcS: Double, evalS: Double,
        jobS: Double, sweepS: Seq[Double], metrics: (Double, Double, Double, Double))

    var lastIndex: ModelIndex = null
    def job(dir: String, truth: DataFrame, sweeps: Int): Job = {
      val records = truth.drop("ent_id")
      var indexEnd = 0L
      var fitEnd = 0L
      val tJob = System.nanoTime()
      val (init, initS) = Spans(spark, "er.index") {
        ERState.initialize(spark, records, "rec_id", fileCol, specs,
          idx => {
            indexEnd = System.nanoTime()
            lastIndex = idx
            sc.setLocalProperty(Spans.PhaseKey, "er.partition_fit")
            val p = KDTreePartitioner.fit(idx, shape.splitAttrs, shape.kdLevels)
            sc.setLocalProperty(Spans.PhaseKey, "er.state_build")
            fitEnd = System.nanoTime()
            p
          },
          seed = SamplerSeed, samplerKind = shape.sampler)
      }
      val initEnd = tJob + (initS * 1e9).toLong
      val (result, sampleS) = Spans(spark, "er.sample") {
        Sampler.run(init, sweeps, burnIn = 0, thin = shape.thin,
          chainPath = Some(s"$dir/chain"), checkpointEvery = 10,
          writeBufferSize = 10)
      }
      val numSamples = sweeps / shape.thin
      val (_, smpcS) = Spans(spark, "er.smpc") {
        Analysis.sharedMostProbableClusters(result.chain.get, numSamples.toDouble)
          .write.mode("overwrite").parquet(s"$dir/smpc")
      }
      val (m, evalS) = Spans(spark, "er.evaluate") {
        val pred = Analysis.membershipFromClusters(
          spark.read.parquet(s"$dir/smpc"), "records")
        val r = Analysis.clusteringMetrics(pred,
          truth.select(col("rec_id").as("recordId"), col("ent_id").as("clusterId")),
          "recordId", "clusterId").head()
        (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      }
      val jobS = (System.nanoTime() - tJob) / 1e9
      // per-sweep wall time from the sampler's own diagnostics: each
      // recorded sample closes a block of `thin` sweeps
      val marks = 0L +: result.diagnostics.map(_.elapsedMs)
      val sweepS = marks.sliding(2).collect { case Seq(a, b) =>
        (b - a) / 1e3 / shape.thin }.toSeq
      result.state.clusters.unpersist(blocking = true)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      truth.cache().count()
      Job(dir, initS, (indexEnd - tJob) / 1e9, (fitEnd - indexEnd) / 1e9,
        (initEnd - fitEnd) / 1e9, sampleS, smpcS, evalS, jobS, sweepS, m)
    }

    // warm-up, part of set-up: one short job on a tenth of the entities,
    // so the measured jobs do not pay first-use class loading and JIT
    val (_, warmS) = Spans(spark, "setup.warm") {
      job(s"$work/warm-job", spark.read.parquet(s"$work/warm-input"), shape.thin)
    }

    // measured region: whole jobs back to back; another one starts only
    // while it can still end within `seconds`
    val gc0 = Spans.gcMs()
    val measureMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Job]
    var attempted = 0
    var failed = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (attempted == 0 ||
        failed == 0 && elapsed + jobs.map(_.jobS).max <= seconds) {
      attempted += 1
      try jobs += job(s"$work/job$attempted", truth, shape.sweeps)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graftbench] ER job failed: $e")
        failed += 1
      }
    }
    val gcMs = Spans.gcMs() - gc0

    tracer.foreach { t =>
      val ops = jobs.size
      def med(xs: collection.Seq[Double]) = Stats.median(xs)
      val sample = t.jobsIn("er.sample", measureMs)
      def isCheckpoint(j: t.JobRec) = j.site.contains("heckpoint at")
      def isChainWrite(j: t.JobRec) = j.site.contains("Sampler.scala")
      val sweeps = sample.filterNot(j => isCheckpoint(j) || isChainWrite(j))
      val totalSweeps = (shape.sweeps * ops).toDouble
      t.put(Seq(
        "er.index_s" -> med(jobs.map(_.indexS)),
        "er.partition_fit_s" -> med(jobs.map(_.fitS)),
        "er.state_build_s" -> med(jobs.map(_.buildS)),
        "er.index_candidate_pairs" -> candidatePairs(lastIndex).toDouble,
        "er.index_neighbor_pairs" -> neighborPairs(lastIndex).toDouble,
        "er.sweep_s_p50" -> med(jobs.flatMap(_.sweepS)),
        "er.sweep_jobs" -> sample.size / totalSweeps,
        "er.sweep_task_cpu_s" -> sweeps.map(_.cpuNs).sum / 1e9 / totalSweeps,
        "er.sweep_shuffle_bytes" ->
          sweeps.map(j => j.shuffleWrite).sum / totalSweeps,
        "er.checkpoint_s" ->
          sample.filter(isCheckpoint).map(_.seconds).sum / ops,
        "er.chain_write_s" ->
          sample.filter(isChainWrite).map(_.seconds).sum / ops,
        "er.chain_write_bytes" ->
          sample.filter(isChainWrite).map(_.outputBytes).sum.toDouble / ops,
        "er.smpc_s" -> med(jobs.map(_.smpcS)),
        "er.evaluate_s" -> med(jobs.map(_.evalS)),
        "er.f1" -> med(jobs.map(_.metrics._3))))
      val spans = Seq("er.index", "er.sample", "er.smpc", "er.evaluate")
        .flatMap(Spans.all(_, measureMs))
      t.put(t.runtime(spans, ops, gcMs))
      t.put(Seq("traced.job_s" -> med(jobs.map(_.jobS))))
    }

    Seq(
      "attempted" -> Json.num(attempted.toLong),
      "failed" -> Json.num(failed.toLong),
      "warm_s" -> Json.num(warmS),
      "job_s" -> Json.nums(jobs.map(_.jobS)),
      "init_s" -> Json.nums(jobs.map(_.initS)),
      "sample_s" -> Json.nums(jobs.map(_.sampleS)),
      "analyze_s" -> Json.nums(jobs.map(j => j.smpcS + j.evalS)),
      "sweeps" -> Json.num(shape.sweeps.toLong),
      "thin" -> Json.num(shape.thin.toLong),
      "jobs" -> Json.arr(jobs.map { j =>
        val (p, r, f, a) = j.metrics
        Json.obj(Seq("dir" -> Json.str(j.dir),
          "precision" -> Json.num(p), "recall" -> Json.num(r),
          "f1" -> Json.num(f), "ari" -> Json.num(a)))
      }),
      "input" -> Json.str(s"$work/input"),
      "domains" -> Json.obj(lastIndex.attributes.map(a =>
        a.name -> Json.num(a.domainSize.toLong))))
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
