package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import org.apache.spark.sql.SparkSession

/** `Main --workload <name> --seed <n> --trace <0|1> [--baseline 1]`: one session.
  *
  * Starts Spark, generates the workload's inputs from the seed, runs one
  * full pass of the workload (the first pass of the JVM, as a user's
  * `spark-submit` sees it), checks its outputs and prints one JSON line:
  * the end-to-end metrics, or with `--trace 1` the per-layer metrics of a
  * traced pass. `--baseline 1` runs only as far as the metric that
  * `trace.overhead` compares and prints just that. Run from the
  * repository root; every file it writes is under `.perfbench/`.
  */
object Main {
  val endToEnd: Seq[(String, String)] = Seq(
    "run_s" -> "s", "rerun_s" -> "s", "setup_s" -> "s", "peak_rss_mb" -> "MB",
    "index_build_s" -> "s", "query_p50_ms" -> "ms", "query_p90_ms" -> "ms", "recall_at_20" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workloads.byName(opts.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload; choose one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts.getOrElse("seed", "1").toLong
    val traced = opts.getOrElse("trace", "0") == "1"
    val baseline = opts.getOrElse("baseline", "0") == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val home = new File(".perfbench").getAbsoluteFile
    val work = new File(home, s"work/${wl.name}-$seed-${ProcessHandle.current().pid()}")
    work.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val result =
      try run(spark, wl, seed, traced, baseline, home, work, sessionS)
      finally {
        spark.stop()
        Files.rm(work)
      }
    println(result)
  }

  private def run(spark: SparkSession, wl: Workload, seed: Long, traced: Boolean, baseline: Boolean,
      home: File, work: File, sessionS: Double): String = {
    val trace = new Trace(spark)
    val in = s"$work/input"
    val out = s"$work/out"
    trace.bases = Seq(s"$out/pipeline", out, in).map(p => new File(p).getAbsolutePath)

    // set-up: input generation three times, median; setup_s is not
    // reported with --trace 1, so those sessions generate once
    val gens = (0 until (if (traced || baseline) 1 else 3)).map { i =>
      val dir = s"$work/gen$i"
      val t = System.nanoTime()
      wl.generate(spark, seed, dir)
      val s = Workloads.secondsSince(t)
      if (i == 0) new File(dir).renameTo(new File(in)) else Files.rm(dir)
      s
    }
    val setupS = sessionS + Stats.median(gens)
    Log.phase("session start", sessionS)
    gens.foreach(Log.phase("generate", _))

    trace.enable(traced)
    val p = wl.pass(Ctx(spark, trace), seed, in, out, runOnly = baseline)
    if (traced) { trace.drain(); Layers.record(trace, wl, p) }
    trace.enable(false)

    // a baseline pass stops before the outputs exist, so it checks nothing
    val errors = if (baseline) Nil else p.errors ++ compareRecorded(wl.name, seed, p.digests)
    if (!baseline) writeDigests(home, wl.name, seed, p.digests)
    errors.foreach(e => System.err.println(s"perfbench: check failed: $e"))
    val failed = errors.size

    val metrics: Seq[(String, Double, String)] =
      if (baseline) {
        val base = Layers.overheadBase(wl)
        Seq((base, p.metrics(base), endToEnd.toMap.apply(base)))
      }
      else if (!traced) endToEnd.map { case (k, unit) =>
        (k, k match {
          case "setup_s" => setupS
          case "peak_rss_mb" => peakRssMb()
          case _ => p.metrics(k)
        }, unit)
      }
      else {
        JFiles.createDirectories(Paths.get(home.getPath, "traces"))
        JFiles.write(Paths.get(home.getPath, "traces", s"${wl.name}-seed$seed.json"),
          trace.toJson(Map("workload" -> wl.name, "seed" -> seed.toString)).getBytes(StandardCharsets.UTF_8))
        // run.py divides this by the same metric of an untraced session
        // to report trace.overhead
        val base = Layers.overheadBase(wl)
        val names = if (wl == CurationCorpus) Layers.names ++ Layers.curNames else Layers.names
        names.map(n => (n, p.metrics.getOrElse(n, 0.0), Layers.unit(n))) :+
          (("traced." + base, p.metrics(base), endToEnd.toMap.apply(base)))
      }
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0}, "attempted": ${p.attempted}, "failed": $failed, "metrics": {${body.mkString(", ")}}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Process high-water RSS (VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  val recordedPath = "perfbench/digests.tsv"

  /** Mismatches against the digests recorded for this workload and seed
    * (none when the seed has no recorded digests). */
  def compareRecorded(workload: String, seed: Long, got: collection.Map[String, String]): Seq[String] = {
    val f = new File(recordedPath)
    if (!f.exists()) return Nil
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.split('\t')).collect {
      case Array(w, s, art, d) if w == workload && s == seed.toString && !got.get(art).contains(d) =>
        s"$art digest ${got.getOrElse(art, "missing")} != recorded $d"
    }.toList
    finally src.close()
  }

  private def writeDigests(home: File, workload: String, seed: Long, d: collection.Map[String, String]): Unit = {
    val dir = Paths.get(home.getPath, "digests")
    JFiles.createDirectories(dir)
    val lines = d.map { case (k, v) => s"$workload\t$seed\t$k\t$v" }
    JFiles.write(dir.resolve(s"$workload-$seed.tsv"), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
