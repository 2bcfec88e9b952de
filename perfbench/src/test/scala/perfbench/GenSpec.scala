package perfbench

import java.nio.file.{Files => JFiles, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The generators are pure functions of their seed, and the smallest
  * MIMIC tree (one block) already holds every FIXTURES.md edge case. */
class GenSpec extends AnyFunSuite {
  val one: MimicSpec = MimicSpec(subjects = MimicGen.BlockSize, visitsMin = 1, visitsMax = 5,
    chartPerStay = 30, items = 40, outPerStay = 3, procPerStay = 2, medPerStay = 3, diagPerStay = 4, phenotypes = 2)

  private def rows(spec: MimicSpec, seed: Long) =
    MimicGen.tables(spec, seed).map(t => t.rel -> t.rows.map(_.toSeq)).toMap

  private def csvBytes(seed: Long): Map[String, Seq[Byte]] = {
    val dir = JFiles.createTempDirectory("gen").toString
    MimicGen.write(one, seed, dir, None)
    MimicGen.tables(one, seed).map(t => t.rel -> JFiles.readAllBytes(Paths.get(dir, t.rel)).toSeq).toMap +
      (MimicGen.MapTsv -> JFiles.readAllBytes(Paths.get(dir, MimicGen.MapTsv)).toSeq)
  }

  test("the same seed produces identical inputs") {
    assert(rows(one, 7) == rows(one, 7))
    assert(csvBytes(7) == csvBytes(7))
    val c = CorpusSpec(docs = 200, vocab = 500, minTokens = 10, maxTokens = 60, exactDupFrac = 0.05, nearDupFrac = 0.2)
    assert(CorpusGen.rows(c, 7).map(_.toSeq) == CorpusGen.rows(c, 7).map(_.toSeq))
    val v = VectorSpec(n = 100, dim = 16, clusters = 5, spread = 0.1)
    assert(VectorGen.vectors(v, 7).map { case (i, e) => (i, e.toSeq) } ==
      VectorGen.vectors(v, 7).map { case (i, e) => (i, e.toSeq) })
  }

  test("a different seed produces different inputs") {
    val (a, b) = (rows(one, 7), rows(one, 8))
    assert(a.keySet == b.keySet)
    Seq("icu/icustays.csv.gz", "icu/chartevents.csv.gz", "icu/inputevents.csv.gz").foreach(t => assert(a(t) != b(t), t))
    val c = CorpusSpec(docs = 200, vocab = 500, minTokens = 10, maxTokens = 60, exactDupFrac = 0.05, nearDupFrac = 0.2)
    assert(CorpusGen.rows(c, 7).map(_.toSeq) != CorpusGen.rows(c, 8).map(_.toSeq))
    val v = VectorSpec(n = 100, dim = 16, clusters = 5, spread = 0.1)
    assert(VectorGen.vectors(v, 7).head._2.toSeq != VectorGen.vectors(v, 8).head._2.toSeq)
  }

  test("every FIXTURES.md edge case is in the smallest generated tree") {
    val t = MimicGen.tables(one, 3).map(x => x.rel -> x.rows).toMap
    def l(v: Any): Long = v.asInstanceOf[Long]
    val patients = t("core/patients.csv.gz")
    val stays = t("icu/icustays.csv.gz") // subject, hadm, stay, intime, outtime, los
    val intime = stays.map(s => l(s(2)) -> l(s(3))).toMap
    val outtime = stays.map(s => l(s(2)) -> l(s(4))).toMap

    assert(patients.exists(_(2).asInstanceOf[Int] < 18), "minor")
    val dod = patients.collect { case p if p(5) != null => l(p(0)) -> l(p(5)) }.toMap
    assert(stays.exists(s => dod.get(l(s(0))).exists(d => d >= l(s(3)) && d <= l(s(4)))), "in-stay death")

    val gaps = stays.groupBy(s => l(s(0))).values.flatMap { ss =>
      val sorted = ss.sortBy(s => l(s(3)))
      sorted.zip(sorted.drop(1)).map { case (a, b) => (l(b(3)) - l(a(4))) / 86400.0 }
    }
    assert(gaps.exists(g => g > 0 && g <= 30), "readmission inside the 30-day gap")
    assert(gaps.exists(_ > 30), "readmission outside the gap")

    val mapped = MimicGen.mappingLines.tail.map(_.split('\t')(1)).groupBy(identity).map { case (k, v) => k -> v.size }
    val icd9 = t("hosp/diagnoses_icd.csv.gz").filter(_(3) == 9).map(_(2).toString.take(3))
    Seq(0, 1, 2).foreach(n => assert(icd9.exists(r => mapped.getOrElse(r, 0) == n), s"ICD-9 root with $n mapping rows"))

    val chart = t("icu/chartevents.csv.gz") // stay, charttime, itemid, valuenum, valueuom
    val majority = chart.groupBy(_(2)).values.filter(_.map(_(4)).distinct.size > 1).map { rs =>
      rs.groupBy(_(4)).values.map(_.size).max.toDouble / rs.size
    }
    assert(majority.exists(_ > 0.95), "UOM majority above 0.95")
    assert(majority.exists(_ < 0.95), "UOM majority below 0.95")
    val values = chart.filter(_(3) != null)
    val median = values.groupBy(_(2)).map { case (k, rs) => k -> rs.map(r => l(r(3))).sorted.apply(rs.size / 2) }
    assert(values.exists(r => l(r(3)) >= 10 * median(r(2))), "chart outlier")
    assert(chart.exists(r => l(r(1)) < intime(l(r(0)))), "chart event before intime")

    val meds = t("icu/inputevents.csv.gz") // subject, stay, itemid, start, end, ...
    assert(meds.exists(m => l(m(3)) - intime(l(m(1))) < 24 * 3600L && l(m(4)) - intime(l(m(1))) > 24 * 3600L),
      "med interval crossing include_time")
    assert(stays.exists(s => (outtime(l(s(2))) - intime(l(s(2)))) % 3600L != 0), "los with non-zero minutes")
  }
}
