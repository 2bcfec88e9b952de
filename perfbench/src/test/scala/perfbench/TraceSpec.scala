package perfbench

/** A traced pass of the smallest mimic workload: each write lands in the
  * span of the public call that made it, and the layer split sees it. */
class TraceSpec extends SparkSuite {
  object Tiny extends MimicWorkload {
    val name = "mimic_tiny"
    val spec = MimicSpec(subjects = MimicGen.BlockSize, visitsMin = 1, visitsMax = 3, chartPerStay = 30,
      items = 40, outPerStay = 3, procPerStay = 2, medPerStay = 3, diagPerStay = 4, phenotypes = 2)
    val parquetInput = false
    val task = "Readmission"
  }

  test("span attribution puts the ts/per_stay_chart write under mimic.ts.per_stay") {
    val work = tempDir("trace")
    val (in, out) = (s"$work/in", s"$work/out")
    Tiny.generate(spark, 1L, in)
    val trace = new Trace(spark)
    trace.bases = Seq(s"$out/pipeline", out, in)
    trace.enable(true)
    val p = Tiny.pass(Ctx(spark, trace), 1L, in, out)
    trace.drain()
    Layers.record(trace, Tiny, p)
    trace.enable(false)
    assert(p.errors.isEmpty, p.errors.mkString("; "))

    val ts = trace.spans.filter(_.name == "mimic.ts")
    assert(ts.size == 1)
    val writes = trace.execsUnder(Set(ts.head.id)).filter(_.label == "ts/per_stay_chart")
    assert(writes.nonEmpty && writes.forall(_.span == ts.head.id))
    assert(p.metrics("mimic.ts.per_stay.s") > 0)
    assert(p.metrics("mimic.ts.per_stay.out_files") > 0)
    assert(p.metrics("mimic.ts.chart.s") > 0)
    // the per-stay segment is part of the mimic.ts span, and the stage
    // spans account for the full run
    assert(p.metrics("mimic.ts.per_stay.s") <= p.metrics("mimic.ts.s"))
    assert(p.metrics("trace.stage_coverage") > 0.9)
    // the rerun's writes belong to the rerun's span, not mimic.ts
    val rerun = trace.spans.filter(_.name == "rerun.ts").map(_.id).toSet
    assert(trace.execsUnder(rerun).exists(_.label == "ts/per_stay_chart"))
  }
}
