package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point, started by `benchmark/run.py`.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --work DIR --cpus C
  *
  * Runs one workload on a fresh `local[C]` session, writes every output
  * the correctness checks need under DIR, and prints one line
  * `BENCHRESULT {json}` with the raw measurements. run.py checks the
  * outputs against oracles computed apart from the program and turns the
  * raw measurements into the benchmark's metrics.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(s"--$k",
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cpus = opt("cpus").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.maxPlanStringLength", "16384")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/stream-ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val sessionReady = System.currentTimeMillis()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val tracer = if (traced) Some(Trace.install(spark)) else None
    val fields = workload match {
      case "er_ncvr" | "er_rl10k" =>
        ErWorkload.run(spark, ErWorkload.shapes(workload), seed, seconds,
          work, tracer)
      case "gates" =>
        GateWorkload.run(spark, seconds, work, tracer)
      case other =>
        throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val base = Seq(
      "session_s" -> Json.num((sessionReady - jvmStart) / 1e3),
      "peak_rss_mb" -> Json.num(PeakMemory.rssMb()))
    println("BENCHRESULT " + Json.obj(base ++ fields ++
      tracer.map(t => "trace" -> t.report()).toSeq))
    spark.stop()
  }
}

/** The JVM's peak resident set (VmHWM), read at exit. */
object PeakMemory {
  def rssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Minimal JSON writer for the result line (no dependency beyond Spark). */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Iterable[Double]): String = arr(xs.map(num))
  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
