package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.curation.{CurationPipeline, Walkthrough}
import graft.mimic.{Datagen, MimicSource, Pipeline}
import graft.queries.Sim

/** What one pass of a workload produced: timings and counters by
  * metric name, artifact digests, the public calls it made and the
  * output checks that failed. */
final class Pass {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val digests = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0

  def check(ok: Boolean, what: => String): Unit = if (!ok) errors += what
}

final case class Ctx(spark: SparkSession, trace: Trace) {
  /** One public call: counted, timed by the caller, and traced as a span.
    * A call that throws ends the run without a result. */
  def op[T](p: Pass, name: String)(body: => T): T = {
    p.attempted += 1
    trace.span(name)(body)
  }
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
  def rm(p: String): Unit = rm(new File(p))

  /** Data files (not checksums or markers) under a directory tree. */
  def dataFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
    else Seq(f)
}

trait Workload {
  def name: String
  /** Write this workload's inputs for `seed` under `dir`. */
  def generate(spark: SparkSession, seed: Long, dir: String): Unit
  /** One full pass over the inputs in `in`, writing under `out`, with
    * its output checks (untimed). With `runOnly` the pass stops after
    * `run_s`: the untraced baseline of a traced run needs nothing else. */
  def pass(ctx: Ctx, seed: Long, in: String, out: String, runOnly: Boolean = false): Pass
}

object Workloads {
  val all: Seq[Workload] = Seq(MimicDense, MimicWide, CurationCorpus, AnnServe)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def mb(bytes: Long): Double = bytes / 1048576.0
}

import Workloads._

/** Train-once, serve-many over a stored PQ4 index: build it
  * (`Sim.savePq4Index`), answer single-vector queries one after another
  * (`Sim.pq4CandidatesFromIndex(...).collect()`), and add one
  * `Sim.appendPq4Index` batch after each quarter of the queries but the
  * last, so later queries scan a growing code table. `warmup` untimed
  * queries first take the serve path's one-off compilation and the JIT's
  * warm-up out of the latencies.
  * Recall@20 is taken against the harness's own exact top-20 over the
  * vectors indexed so far. `retrain` then rebuilds the index over the
  * corpus grown by one, two, ... batches; `index_build_s` is the median
  * of the retrains (the first build also pays the JVM's one-off
  * compilation of the train path). */
object Serve {
  val k = 20

  private def build(ctx: Ctx, p: Pass, corpus: DataFrame, to: String, span: String = "ann.build"): Double = {
    val t = System.nanoTime()
    ctx.op(p, span)(Sim.savePq4Index(corpus, to))
    secondsSince(t)
  }

  def run(ctx: Ctx, p: Pass, base: DataFrame, batches: Seq[DataFrame], warmup: Int, perQuarter: Int,
      seed: Long, dir: String): Unit = {
    val spark = ctx.spark
    val vecs = mutable.LinkedHashMap.empty[Long, Array[Float]]
    def load(df: DataFrame): Unit = df.collect().foreach(r =>
      vecs(r.getLong(0)) = r.getSeq[Float](1).toArray)
    load(base)
    val rnd = new scala.util.Random(seed * 31 + 7)

    build(ctx, p, base, dir)
    val lat = mutable.ArrayBuffer.empty[Double]
    val served = mutable.ArrayBuffer.empty[Seq[Any]]
    var hits, expected, added = 0
    def query(q: Long): Array[org.apache.spark.sql.Row] = {
      val qdf = VectorGen.df(spark, Seq(q -> vecs(q)))
      ctx.op(p, "ann.serve")(Sim.pq4CandidatesFromIndex(spark, dir, qdf, q).collect())
    }
    vecs.keys.take(warmup).foreach(query)
    for (quarter <- 0 until 4) {
      if (quarter > 0) {
        val batch = batches(quarter - 1)
        val before = Files.dataFiles(new File(s"$dir/codes.parquet")).size
        ctx.op(p, "ann.append")(Sim.appendPq4Index(spark, dir, batch))
        added += Files.dataFiles(new File(s"$dir/codes.parquet")).size - before
        load(batch)
      }
      // sorted: the order rows come back from a Parquet read can vary
      val ids = vecs.keys.toIndexedSeq.sorted
      for (_ <- 0 until perQuarter) {
        val q = ids(rnd.nextInt(ids.size))
        val tq = System.nanoTime()
        val got = query(q)
        lat += (System.nanoTime() - tq) / 1e6
        // The program sums each distance in partition order, so which of
        // the candidates tied with the 20th (at the digest's rounding) it
        // returns can differ between runs: those enter by distance alone.
        val dist = got.map(r => Digest.rounded(r.getAs[Number](1).doubleValue))
        if (dist.nonEmpty) got.zip(dist).foreach { case (r, d) =>
          served += Seq(q, if (d < dist.max) r.getLong(0) else "tied", d)
        }
        val exact = exactTopK(vecs, q)
        hits += got.map(_.getLong(0)).count(exact.contains)
        expected += exact.size
        p.check(got.length == exact.size, s"query $q returned ${got.length} candidates, not ${exact.size}")
      }
    }
    System.err.println(s"perfbench: query ms ${lat.map(x => f"$x%.0f").mkString(" ")}")
    p.metrics("query_p50_ms") = Stats.quantile(lat.toSeq, 0.5)
    p.metrics("query_p90_ms") = Stats.quantile(lat.toSeq, 0.9)
    p.metrics("recall_at_20") = hits.toDouble / expected
    p.metrics("ann.append.files_added") = added
    p.digests("served") = Digest.ofRows(served.toSeq)
  }

  /** Rebuilds over the base corpus grown by the first 1, 2, ... `n`
    * batches, into `<dir>-retrain<i>`; returns the build times. */
  def retrain(ctx: Ctx, p: Pass, base: DataFrame, batches: Seq[DataFrame], n: Int, dir: String): Seq[Double] = {
    val times = (1 to n).map(i =>
      build(ctx, p, batches.take(i).foldLeft(base)(_ union _), s"$dir-retrain$i", "ann.retrain"))
    p.metrics("index_build_s") = Stats.median(times)
    times
  }

  /** Exact squared-L2 top-k (ties by vec_id), the query itself excluded. */
  def exactTopK(vecs: collection.Map[Long, Array[Float]], q: Long): Set[Long] = {
    val qv = vecs(q)
    vecs.iterator.filter(_._1 != q).map { case (id, v) =>
      var d = 0.0
      var i = 0
      while (i < v.length) { val x = v(i).toDouble - qv(i); d += x * x; i += 1 }
      (d, id)
    }.toSeq.sorted.take(k).map(_._2).toSet
  }
}

/** E1→E4 of `graft.mimic.Pipeline`; then the user's iteration (edit the
  * chart feature list, re-run selection and the time series); then a
  * patient-similarity session: a PQ4 index over per-stay vectors of the
  * cleaned chart events, serving single-stay queries while held-out
  * stays are appended. */
abstract class MimicWorkload extends Workload {
  def spec: MimicSpec
  def parquetInput: Boolean
  def task: String
  val includeTime = 24
  val queriesPerQuarter = 3
  val vectorDims = 64

  def generate(spark: SparkSession, seed: Long, dir: String): Unit =
    MimicGen.write(spec, seed, dir, if (parquetInput) Some(spark) else None)

  def pass(ctx: Ctx, seed: Long, in: String, out: String, runOnly: Boolean): Pass = {
    val spark = ctx.spark
    val p = new Pass
    val src = MimicSource(spark, in)
    val pipe = Pipeline(spark, src, s"$in/${MimicGen.MapTsv}", s"$out/pipeline")
    val t0 = System.nanoTime()
    if (!parquetInput) ctx.op(p, "mimic.ingest")(src.ingestToParquet())
    val cohort = ctx.op(p, "mimic.cohort")(pipe.cohort(useIcu = true, label = task, time = 30))
    val feats = ctx.op(p, "mimic.features")(pipe.featureIcu(cohort))
    val cleaned = ctx.op(p, "mimic.clean")(pipe.cleanFeatures(feats, groupDiag = "convert",
      cleanChart = true, imputeOutlier = false, thresh = 98, leftThresh = 0))
    val sums = ctx.op(p, "mimic.summary")(pipe.summaries(cleaned).map { case (k, df) => k -> df.collect() })
    val lists = ctx.op(p, "mimic.lists")(pipe.writeFeatureLists(cleaned))
    val selected = ctx.op(p, "mimic.select")(pipe.featureSelection(cleaned))
    ctx.op(p, "mimic.ts")(pipe.timeSeries(cohort, selected, task = task,
      includeTime = includeTime, bucket = 1, predW = 6, imputeHow = "Mean"))
    p.metrics("run_s") = secondsSince(t0)
    if (runOnly) return p
    if (ctx.trace.enabled) ctx.trace.span("check")(perLayerCounters(spark, p, src, cohort, selected, s"$out/pipeline"))

    // the user's iteration: keep only the most frequent quarter of the
    // chart itemids, then re-select and rebuild the time series
    val keep = cleaned("chart").groupBy(col("itemid")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("itemid").asc).collect().map(_.getLong(0))
    import spark.implicits._
    keep.take(math.max(1, keep.length / 4)).toSeq.toDF("itemid")
      .write.mode("overwrite").parquet(lists("chart"))
    val t1 = System.nanoTime()
    val reselected = ctx.op(p, "rerun.select")(pipe.featureSelection(cleaned))
    val ts = ctx.op(p, "rerun.ts")(pipe.timeSeries(cohort, reselected, task = task,
      includeTime = includeTime, bucket = 1, predW = 6, imputeHow = "Mean"))
    p.metrics("rerun_s") = secondsSince(t1)

    // patient similarity: every fourth stay is held out and appended
    val vs = stayVectors(spark, s"$out/pipeline/features/v2/chart")
    val (held, indexed) = vs.zipWithIndex.partition(_._2 % 4 == 3)
    val batches = held.map(_._1).grouped(math.max(1, (held.size + 2) / 3)).toSeq.padTo(3, Seq.empty)
    Log.timed("serve") {
      val (baseDf, batchDfs) = (VectorGen.df(spark, indexed.map(_._1)), batches.map(VectorGen.df(spark, _)))
      Serve.run(ctx, p, baseDf, batchDfs, 2, queriesPerQuarter, seed, s"$out/index")
      Serve.retrain(ctx, p, baseDf, batchDfs, 3, s"$out/index")
    }

    Log.timed("check")(ctx.trace.span("check")(check(spark, p, sums, ts, out)))
    p
  }

  /** Per-stay vectors from the cleaned chart events: the mean value of
    * each of the `vectorDims` most observed itemids, z-scored per itemid
    * (means rounded first, so summation order cannot move a vector). */
  private def stayVectors(spark: SparkSession, chart: String): Seq[(Long, Array[Float])] = {
    val means = spark.read.parquet(chart).groupBy(col("stay_id"), col("itemid"))
      .agg(round(avg(col("valuenum")), 4).as("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val items = means.groupBy(_._2).toSeq.map { case (i, rs) => (-rs.length, i) }.sorted
      .take(vectorDims).map(_._2)
    val stats = items.map { i =>
      val xs = means.filter(_._2 == i).map(_._3)
      val mu = xs.sum / xs.length
      val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / xs.length)
      i -> (mu, if (sd > 0) sd else 1.0)
    }.toMap
    means.groupBy(_._1).toSeq.sortBy(_._1).map { case (stay, rs) =>
      val byItem = rs.map(r => r._2 -> r._3).toMap
      stay -> Array.tabulate(vectorDims) { d =>
        if (d >= items.size) 0f
        else {
          val (mu, sd) = stats(items(d))
          ((byItem.getOrElse(items(d), mu) - mu) / sd).toFloat
        }
      }
    }
  }

  /** Digests of every stage artifact, and the structural invariants that
    * need no recorded value. */
  private def check(spark: SparkSession, p: Pass, sums: Map[String, Array[org.apache.spark.sql.Row]],
      ts: Map[String, DataFrame], out: String): Unit = {
    val dir = s"$out/pipeline"
    val parquet = Seq("cohort", "features/preproc_diag_icu", "features/preproc_out_icu",
      "features/preproc_chart_icu", "features/preproc_proc_icu", "features/preproc_med_icu",
      "features/v2/diag", "features/v2/chart", "features/v3/diag", "features/v3/out",
      "features/v3/chart", "features/v3/proc", "features/v3/med", "summary/chart_features",
      "ts/med", "ts/chart", "ts/proc", "ts/out", "ts/cond", "ts/dynamic", "ts/per_stay_chart")
    val vocab = Seq("med", "chart", "proc", "out", "cond").map(k => s"ts/vocab_$k")
    // reading a directory's schema is itself a small job: read in parallel
    val read = Par.map(parquet.map(rel => rel -> s"$dir/$rel") :+ ("index/codes" -> s"$out/index/codes.parquet")) {
      case (rel, path) => rel -> spark.read.parquet(path)
    } ++ Par.map(vocab)(rel => rel -> spark.read.option("header", "true").csv(s"$dir/$rel"))
    val tables = read.toMap
    p.digests ++= Digest.many(read ++ Seq("ts/labels" -> ts("labels"), "ts/demo" -> ts("demo")))
    sums.toSeq.sortBy(_._1).foreach { case (k, rows) =>
      p.digests(s"summary/$k") = Digest.ofRows(rows.map(_.toSeq).toSeq)
    }

    val Seq(Array(r), maxT, Array(l)) = Par.map(Seq[() => Array[org.apache.spark.sql.Row]](
      () => tables("ts/chart").agg(count(lit(1)), max(col("t")),
        sum(when(col("valuenum").isNull, 1L).otherwise(0L)),
        count_distinct(col("stay_id"), col("itemid"))).collect(),
      () => Seq("ts/med", "ts/chart", "ts/proc", "ts/out", "ts/dynamic")
        .map(rel => tables(rel).select(lit(rel).as("rel"), col("t")))
        .reduce(_ unionByName _).groupBy(col("rel")).agg(max(col("t"))).collect(),
      () => ts("labels").agg(count(lit(1)), count_distinct(col("stay_id"))).collect()))(_())
    val (rows, pairs) = (r.getLong(0), r.getLong(3))
    p.check(rows > 0, "ts/chart is empty")
    p.check(r.getLong(2) == 0, s"ts/chart has ${r.getLong(2)} null valuenum after impute")
    p.check(rows == pairs * includeTime, s"ts/chart rows $rows != observed pairs $pairs x $includeTime buckets")
    maxT.foreach { m =>
      p.check(m.isNullAt(1) || m.getLong(1) < includeTime, s"${m.getString(0)} has t >= $includeTime")
    }
    p.check(l.getLong(0) > 0 && l.getLong(0) == l.getLong(1),
      s"labels rows ${l.getLong(0)} != distinct stays ${l.getLong(1)}")
  }

  /** Counters for the traced run that the spans cannot see. */
  private def perLayerCounters(spark: SparkSession, p: Pass, src: MimicSource,
      cohort: DataFrame, selected: Map[String, DataFrame], dir: String): Unit = {
    val raw = src.chartevents.count()
    val kept = spark.read.parquet(s"$dir/features/preproc_chart_icu").count()
    p.metrics("mimic.features.chart_keep") = kept.toDouble / raw
    val adm = Datagen.generateAdm(cohort)
      .filter(col("los") >= (if (task == "Mortality") includeTime + 6 else includeTime))
    val ev = Datagen.generateEvents(selected("chart"), adm)
    val win = if (task == "Readmission") Datagen.endWindow(ev, adm, includeTime, isInterval = false)
      else Datagen.frontWindow(ev, adm, includeTime, isInterval = false)
    val observed = Datagen.bucketEvents(win, 1, includeTime, None).count()
    val grid = spark.read.parquet(s"$dir/ts/chart").count()
    p.metrics("mimic.ts.grid_fill") = if (grid == 0) 0.0 else observed.toDouble / grid
    val files = Files.dataFiles(new File(s"$dir/ts/per_stay_chart"))
    p.metrics("mimic.ts.per_stay.out_files") = files.size
    p.metrics("mimic.ts.per_stay.out_mb") = mb(files.map(_.length).sum)
  }
}

/** Many chart events per stay over a few hundred itemids, already in
  * Parquet: feature extraction and the dense grid dominate. */
object MimicDense extends MimicWorkload {
  val name = "mimic_dense"
  val spec = MimicSpec(subjects = 30, visitsMin = 1, visitsMax = 1, chartPerStay = 500,
    items = 200, outPerStay = 20, procPerStay = 10, medPerStay = 20, diagPerStay = 10, phenotypes = 2)
  val parquetInput = true
  val task = "Mortality"
}

/** Many short stays with readmissions, as csv.gz: ingest, the
  * readmission self-join and the per-stay fan-out dominate. */
object MimicWide extends MimicWorkload {
  val name = "mimic_wide"
  val spec = MimicSpec(subjects = 50, visitsMin = 1, visitsMax = 5, chartPerStay = 15,
    items = 200, outPerStay = 3, procPerStay = 2, medPerStay = 3, diagPerStay = 4, phenotypes = 8)
  val parquetInput = false
  val task = "Readmission"
}

/** `CurationPipeline.run` with the Walkthrough config, then the resume
  * after a crash that lost every stage from 04b_selected onward. */
object CurationCorpus extends Workload {
  val name = "curation_corpus"
  val spec = CorpusSpec(docs = 1000, vocab = 3000, minTokens = 10, maxTokens = 300,
    exactDupFrac = 0.05, nearDupFrac = 0.2)
  val stages = Seq("00_report", "00_stoplist", "01_gated", "02_exact", "03_clean", "04_corpus",
    "04a_spans", "04b_selected", "05_chunks", "06_pack", "07_order", "08_bpe")
  val lost = stages.dropWhile(_ != "04b_selected")

  def generate(spark: SparkSession, seed: Long, dir: String): Unit =
    CorpusGen.write(spark, spec, seed, dir)

  def pass(ctx: Ctx, seed: Long, in: String, out: String, runOnly: Boolean): Pass = {
    val spark = ctx.spark
    val p = new Pass
    val docs = spark.read.parquet(s"$in/documents.parquet")
    val t0 = System.nanoTime()
    val counts = ctx.op(p, "cur.run")(CurationPipeline.run(spark, docs, out,
      cfg = Walkthrough.config, selection = Walkthrough.selection))
    p.metrics("run_s") = secondsSince(t0)
    if (runOnly) return p

    val c = counts.toMap
    val dedup = Seq("01_gated", "02_exact", "03_clean", "04_corpus", "04a_spans", "04b_selected")
    dedup.zip(dedup.tail).foreach { case (a, b) =>
      p.check(c(b) <= c(a), s"stage $b has ${c(b)} rows, more than $a (${c(a)})")
    }
    p.check(c("04b_selected") > 0, "curation selected no documents")
    p.metrics("cur.keep_ratio") = c("04b_selected").toDouble / docs.count()
    p.digests("counts") = Digest.ofRows(counts.map { case (k, v) => Seq(k, v) })
    ctx.trace.span("check") {
      p.digests ++= Digest.many(counts.map(_._1).distinct.map(s => s -> spark.read.parquet(s"$out/$s")))
    }

    // crash: the stages from 04b_selected onward are lost
    lost.foreach(s => Files.rm(s"$out/$s"))
    def marks = stages.flatMap(s => markers(new File(s"$out/$s"))).map(f => f.getPath -> f.lastModified).toMap
    val before = marks
    val t1 = System.nanoTime()
    val counts2 = ctx.op(p, "rerun.cur.run")(CurationPipeline.run(spark, docs, out,
      cfg = Walkthrough.config, selection = Walkthrough.selection))
    p.metrics("rerun_s") = secondsSince(t1)
    val after = marks
    p.metrics("cur.resume.skipped_stages") = before.count { case (f, t) => after.get(f).contains(t) }
    p.check(counts2 == counts, s"resumed run counts $counts2 differ from the full run's $counts")
    p.digests("rerun:08_bpe/encoded") = Digest.of(spark.read.parquet(s"$out/08_bpe/encoded"))
    p
  }

  private def markers(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(markers)
    else if (f.getName == "_SUCCESS") Seq(f) else Nil
}

/** The serve session alone, over generated clustered vectors: `run_s`
  * is the session (build, queries, appends), its rerun the three
  * retrains as the corpus grows. */
object AnnServe extends Workload {
  val name = "ann_serve"
  val spec = VectorSpec(n = 1000, dim = 64, clusters = 50, spread = 0.08)
  val appendBatch = 100
  val queriesPerQuarter = 8

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    val vs = VectorGen.vectors(spec.copy(n = spec.n + 3 * appendBatch), seed)
    VectorGen.df(spark, vs.take(spec.n)).write.mode("overwrite").parquet(s"$dir/base.parquet")
    (0 until 3).foreach { b =>
      VectorGen.df(spark, vs.slice(spec.n + b * appendBatch, spec.n + (b + 1) * appendBatch))
        .write.mode("overwrite").parquet(s"$dir/append$b.parquet")
    }
  }

  def pass(ctx: Ctx, seed: Long, in: String, out: String, runOnly: Boolean): Pass = {
    val spark = ctx.spark
    val p = new Pass
    val base = spark.read.parquet(s"$in/base.parquet")
    val batches = (0 until 3).map(b => spark.read.parquet(s"$in/append$b.parquet"))
    val t0 = System.nanoTime()
    Serve.run(ctx, p, base, batches, 6, queriesPerQuarter, seed, s"$out/index")
    p.metrics("run_s") = secondsSince(t0)
    if (runOnly) return p
    p.metrics("rerun_s") = Serve.retrain(ctx, p, base, batches, 3, s"$out/index").sum
    p.check(p.metrics("recall_at_20") > 0.3, s"recall_at_20 ${p.metrics("recall_at_20")} is implausibly low")
    Log.timed("check")(ctx.trace.span("check") {
      p.digests ++= Digest.many(Seq("index/codes" -> spark.read.parquet(s"$out/index/codes.parquet"),
        "retrain/codes" -> spark.read.parquet(s"$out/index-retrain3/codes.parquet")))
    })
    p
  }
}

/** Phase timings on standard error, for whoever tunes a workload. */
object Log {
  def phase(name: String, seconds: Double): Unit = System.err.println(f"perfbench: $name%s $seconds%.2f s")
  def timed[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally phase(name, Workloads.secondsSince(t))
  }
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
