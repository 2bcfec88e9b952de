package perfbench

/** Per-layer metrics of one traced pass, computed from its spans and
  * the listener counters. A layer the workload never enters reads 0. */
object Layers {
  val curStages: Seq[String] = CurationCorpus.stages

  val names: Seq[String] = Seq(
    "mimic.ingest.s", "mimic.cohort.s", "mimic.cohort.shuffle_mb",
    "mimic.features.s", "mimic.features.chart.s", "mimic.features.shuffle_mb", "mimic.features.chart_keep",
    "mimic.clean.s", "mimic.clean.shuffle_mb", "mimic.summary.s", "mimic.lists.s", "mimic.select.s",
    "mimic.ts.s", "mimic.ts.shuffle_mb", "mimic.ts.chart.s", "mimic.ts.med.s", "mimic.ts.dynamic.s",
    "mimic.ts.grid_fill", "mimic.ts.per_stay.s", "mimic.ts.per_stay.out_files", "mimic.ts.per_stay.out_mb",
    "mimic.ts.vocab.s", "ann.build.s", "ann.build.shuffle_mb", "ann.serve.planning_ms", "ann.serve.exec_ms", "ann.serve.jobs",
    "ann.serve.tasks", "ann.serve.files_read", "ann.append.s", "ann.append.files_added",
    "workload.planning_s", "workload.gc_s", "workload.spill_mb", "workload.tasks", "trace.stage_coverage")

  /** Printed only for `curation_corpus`, which runs by hand. */
  val curNames: Seq[String] = curStages.map(s => s"cur.$s.s") ++ Seq(
    "cur.03_clean.shuffle_mb", "cur.04_corpus.shuffle_mb", "cur.keep_ratio", "cur.resume.skipped_stages")

  def unit(n: String): String = n.split('.').last match {
    case "s" | "planning_s" | "gc_s" => "s"
    case "shuffle_mb" | "out_mb" | "spill_mb" => "MB"
    case "planning_ms" | "exec_ms" => "ms"
    case "jobs" | "tasks" | "files_read" | "out_files" | "files_added" | "skipped_stages" => "count"
    case _ => "ratio"
  }

  /** Splits a span by the directory each of its executions writes or
    * reads back. An execution's segment runs from the end of the
    * previous execution in the span (or the span's start) to its own
    * end, so driver-side planning before an action counts toward it. */
  def segments(t: Trace, s: Span): Seq[(String, Double)] = {
    var prev = s.startWallMs
    t.execsUnder(Set(s.id)).sortBy(_.startMs).map { x =>
      val seg = (x.endMs - math.max(prev, s.startWallMs)) / 1000.0
      prev = math.max(prev, x.endMs)
      x.label -> math.max(seg, 0.0)
    }
  }

  /** The end-to-end metric `trace.overhead` compares traced to untraced. */
  def overheadBase(wl: Workload): String = if (wl == AnnServe) "query_p50_ms" else "run_s"

  def record(t: Trace, wl: Workload, p: Pass): Unit = {
    val spans = t.spans.toSeq
    val work = spans.filter(s => s.parent < 0 && s.name != "check")
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds).sum
    def ids(n: String) = named(n).map(_.id).toSet
    def shuffleMb(n: String) = Workloads.mb(t.countersUnder(ids(n)).shuffleWriteBytes)
    def seg(n: String, label: String => Boolean) =
      named(n).flatMap(segments(t, _)).collect { case (l, d) if label(l) => d }.sum
    val m = p.metrics

    wl match {
      case _: MimicWorkload =>
        Seq("ingest", "cohort", "features", "clean", "summary", "lists", "select", "ts")
          .foreach(l => m(s"mimic.$l.s") = secs(s"mimic.$l"))
        Seq("cohort", "features", "clean", "ts").foreach(l => m(s"mimic.$l.shuffle_mb") = shuffleMb(s"mimic.$l"))
        m("mimic.features.chart.s") = seg("mimic.features", _ == "features/preproc_chart_icu")
        m("mimic.ts.chart.s") = seg("mimic.ts", _ == "ts/chart")
        m("mimic.ts.med.s") = seg("mimic.ts", _ == "ts/med")
        m("mimic.ts.dynamic.s") = seg("mimic.ts", _ == "ts/dynamic")
        m("mimic.ts.per_stay.s") = seg("mimic.ts", _.startsWith("ts/per_stay"))
        m("mimic.ts.vocab.s") = seg("mimic.ts", _.startsWith("ts/vocab"))
        m("trace.stage_coverage") = work.filter(_.name.startsWith("mimic.")).map(_.seconds).sum / p.metrics("run_s")
      case CurationCorpus =>
        val segs = named("cur.run").flatMap(segments(t, _))
        curStages.foreach(s => m(s"cur.$s.s") = segs.collect { case (l, d) if l.split('/')(0) == s => d }.sum)
        Seq("03_clean", "04_corpus").foreach { s =>
          m(s"cur.$s.shuffle_mb") = Workloads.mb(t.countersUnder(ids("cur.run"),
            x => x.label.split('/')(0) == s).shuffleWriteBytes)
        }
        m("trace.stage_coverage") = curStages.map(s => m(s"cur.$s.s")).sum / p.metrics("run_s")
      case _ =>
    }
    if (named("ann.build").nonEmpty) {
      // every build: the first (in run_s) and the retrains (index_build_s)
      m("ann.build.s") = secs("ann.build") + secs("ann.retrain")
      m("ann.build.shuffle_mb") = Workloads.mb(t.countersUnder(ids("ann.build") ++ ids("ann.retrain")).shuffleWriteBytes)
      m("ann.append.s") = secs("ann.append")
      val q = named("ann.serve").map(s => t.execsUnder(Set(s.id)))
      def perQuery(f: Seq[Exec] => Double) = Stats.median(q.map(f))
      m("ann.serve.planning_ms") = perQuery(_.map(_.planningMs.toDouble).sum)
      m("ann.serve.exec_ms") = perQuery(_.map(_.durationNs / 1e6).sum)
      m("ann.serve.jobs") = perQuery(_.map(_.jobs.toDouble).sum)
      m("ann.serve.files_read") = perQuery(_.map(_.filesRead.toDouble).sum)
      m("ann.serve.tasks") = Stats.median(named("ann.serve").map(s => t.countersUnder(Set(s.id)).tasks.toDouble))
    }
    if (wl == AnnServe)
      m("trace.stage_coverage") = work.filter(s => s.name.startsWith("ann.") && s.name != "ann.retrain")
        .map(_.seconds).sum / p.metrics("run_s")
    val all = t.execsUnder(work.map(_.id).toSet)
    val c = t.countersUnder(work.map(_.id).toSet)
    m("workload.planning_s") = all.map(_.planningMs).sum / 1000.0
    m("workload.gc_s") = c.gcMs / 1000.0
    m("workload.spill_mb") = Workloads.mb(c.spillBytes)
    m("workload.tasks") = c.tasks.toDouble
  }
}
