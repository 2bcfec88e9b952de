package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.mimic.MimicSchemas

/** One generated table: rows in the column order of `schema`. Timestamps
  * are epoch seconds (UTC) until written. */
final case class Table(rel: String, schema: StructType, rows: Seq[Array[Any]])

/** Writers shared by the generators: csv.gz (the reference layout) or
  * one Parquet directory per table (the ingested layout). */
object Write {

  private def fmt(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => ""
    case (s: Long, TimestampType) =>
      LocalDateTime.ofEpochSecond(s, 0, ZoneOffset.UTC).toString.replace('T', ' ') match {
        case d if d.length == 16 => d + ":00"
        case d => d
      }
    case (x, _) => x.toString
  }

  private def sparkValue(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (s: Long, TimestampType) => new Timestamp(s * 1000L)
    case (i: Int, LongType) => i.toLong
    case (l: Long, DoubleType) => l.toDouble
    case (x, _) => x
  }

  def csvGz(root: String, t: Table): Unit = {
    val f = new File(root, t.rel)
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(f), 1 << 16), StandardCharsets.UTF_8))
    try {
      w.write(t.schema.fieldNames.mkString(","))
      w.write('\n')
      val types = t.schema.fields.map(_.dataType)
      t.rows.foreach { r =>
        var i = 0
        while (i < r.length) {
          if (i > 0) w.write(',')
          w.write(fmt(r(i), types(i)))
          i += 1
        }
        w.write('\n')
      }
    } finally w.close()
  }

  def parquet(spark: SparkSession, root: String, t: Table, files: Int): Unit = {
    val types = t.schema.fields.map(_.dataType)
    val rows = t.rows.map(r => Row.fromSeq(r.indices.map(i => sparkValue(r(i), types(i)))))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, t.schema).repartition(files)
      .write.mode("overwrite").parquet(s"$root/${t.rel.stripSuffix(".csv.gz")}.parquet")
  }

  def text(root: String, rel: String, lines: Seq[String]): Unit = {
    val f = new File(root, rel)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Seeded, scalable MIMIC-IV tree in the `MimicSource` layout.
  *
  * Subjects come in blocks of [[MimicGen.BlockSize]]; the first three
  * subjects of every block are pinned edge cases (a minor, an in-stay
  * death, a three-visit readmission chain with one gap inside and one
  * outside 30 days), and every stay opens with the same pinned events:
  * a chart event before intime, rows on the two two-UOM itemids (one
  * majority above 0.95, one below), a chart outlier, a null valuenum and
  * a med order crossing hour 24. Every stay's los carries non-zero
  * minutes, and every admission gets one ICD-9 code of each mapping kind
  * (0, 1 and 2 rows in the mapping TSV).
  *
  * Each stay has one of `phenotypes` latent phenotypes: half of its chart
  * events fall on the phenotype's signature itemids and its values are
  * shifted per (phenotype, itemid), so per-stay feature vectors cluster.
  * Visit counts depend only on the subject's index, so the number of
  * stays is the same for every seed.
  */
final case class MimicSpec(
    subjects: Int,
    visitsMin: Int,
    visitsMax: Int,
    chartPerStay: Int,
    items: Int,
    outPerStay: Int,
    procPerStay: Int,
    medPerStay: Int,
    diagPerStay: Int,
    phenotypes: Int)

object MimicGen {
  val BlockSize = 10
  val Base: Long = LocalDateTime.of(2150, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
  val ItemBase = 220000L
  /** Itemid classes by offset: 0 = two UOMs, majority 39/40 (above the
    * 0.95 cutoff, minority dropped); 1 = two UOMs, majority 3/5 (kept). */
  val UomAbove: Long = ItemBase
  val UomBelow: Long = ItemBase + 1
  val MapTsv = "icd_mapping.txt"

  /** ICD-9 roots with one mapping row, two (duplicate key, first wins)
    * and none. */
  val rootsOne: Seq[String] = (401 to 420).map(_.toString)
  val rootsDup: Seq[String] = (421 to 430).map(_.toString)
  val rootsNone: Seq[String] = (991 to 999).map(_.toString)

  def mappingLines: Seq[String] = {
    val header = "diagnosis_type\tdiagnosis_code\tdiagnosis_description\ticd9cm\ticd10cm\tflags"
    val one = rootsOne.map(r => s"DX\t$r\tcondition $r\t$r\tI${r.takeRight(2)}.0\t")
    val dup = rootsDup.flatMap(r => Seq(
      s"DX\t$r\tcondition $r\t$r\tJ${r.takeRight(2)}.1\t",
      s"DX\t$r\tcondition $r alt\t$r\tJ${r.takeRight(2)}.9\t"))
    header +: (one ++ dup)
  }

  def tables(spec: MimicSpec, seed: Long): Seq[Table] = {
    val rnd = new scala.util.Random(seed)
    val patients, admissions, icustays, chart, out, proc, meds, diag = ArrayBuffer.empty[Array[Any]]
    val uomCount = new Array[Long](2)
    var visitIdx = 0L
    var orderId = 0L
    val icd10 = Seq("I509", "E119", "N179", "J189", "A419", "K219")

    def chartRow(stay: Long, t: Long, item: Long, v: Any): Array[Any] = {
      val uom =
        if (item == UomAbove) { uomCount(0) += 1; if (uomCount(0) % 40 == 0) "mL" else "mg" }
        else if (item == UomBelow) { uomCount(1) += 1; if (uomCount(1) % 5 >= 3) "mL" else "mg" }
        else s"u${item % 7}"
      Array[Any](stay, t, item, v, uom)
    }
    def itemValue(item: Long, pheno: Int): Long =
      10L + (item % 50) * 3 + 20L * (((item * 31 + pheno * 17) % 5) - 2) + rnd.nextInt(11) - 5
    val signature = 8

    for (s <- 0 until spec.subjects) {
      val subject = 10000L + s
      val role = s % BlockSize
      val nVisits =
        if (role == 0) 1
        else if (role == 2) 3
        else spec.visitsMin + s % (spec.visitsMax - spec.visitsMin + 1)
      val age = if (role == 0) 16 else 18 + rnd.nextInt(70)
      var t = Base + rnd.nextInt(365 * 5) * 86400L + rnd.nextInt(86400)
      var dod: Any = null
      for (v <- 0 until nVisits) {
        val hadm = 200000L + visitIdx
        val stay = 300000L + visitIdx
        visitIdx += 1
        val admit = t
        val intime = admit + rnd.nextInt(6 * 3600)
        // 30..~130 h, always with non-zero minutes
        val losSec = (30 + rnd.nextInt(100)) * 3600L + (1 + rnd.nextInt(59)) * 60L
        val outtime = intime + losSec
        val disch = outtime + rnd.nextInt(48 * 3600)
        val last = v == nVisits - 1
        val diesInStay = role == 1 && last
        if (diesInStay) dod = outtime - 3600L
        admissions += Array[Any](subject, hadm, admit, disch,
          if (diesInStay) outtime - 3600L else null, if (diesInStay) 1 else 0,
          Seq("Medicare", "Medicaid", "Other")(rnd.nextInt(3)),
          Seq("WHITE", "BLACK", "ASIAN", "HISPANIC")(rnd.nextInt(4)))
        icustays += Array[Any](subject, hadm, stay, intime, outtime,
          math.round(losSec / 864.0) / 100.0)

        // pinned chart events: before intime, both UOM classes, an
        // outlier, a null valuenum
        val pheno = rnd.nextInt(spec.phenotypes)
        chart += chartRow(stay, intime - 1800L, ItemBase + 2, itemValue(ItemBase + 2, pheno))
        chart += chartRow(stay, intime + 600L, UomAbove, itemValue(UomAbove, pheno))
        chart += chartRow(stay, intime + 700L, UomBelow, itemValue(UomBelow, pheno))
        chart += chartRow(stay, intime + 3600L, ItemBase + 3, itemValue(ItemBase + 3, pheno) * 100)
        chart += chartRow(stay, intime + 4000L, ItemBase + 4, null)
        for (_ <- 5 until spec.chartPerStay) {
          // half on the phenotype's signature itemids, the rest skewed
          // toward low offsets (the frequent features)
          val u = rnd.nextDouble()
          val item =
            if (rnd.nextBoolean()) ItemBase + 5 + pheno * signature + rnd.nextInt(signature)
            else ItemBase + (spec.items * u * u).toLong
          val ct = intime - 7200L + (rnd.nextDouble() * (losSec + 3 * 3600L)).toLong
          val r = rnd.nextInt(100)
          val value: Any =
            if (r == 0) null
            else if (r == 1) itemValue(item, pheno) * 100
            else itemValue(item, pheno)
          chart += chartRow(stay, ct, item, value)
        }
        for (i <- 0 until spec.outPerStay) {
          val ct = if (i == 0) intime - 900L else intime + (rnd.nextDouble() * losSec).toLong
          out += Array[Any](subject, hadm, stay, ct, 226000L + rnd.nextInt(30))
        }
        for (_ <- 0 until spec.procPerStay)
          proc += Array[Any](stay, intime + (rnd.nextDouble() * losSec).toLong, 225000L + rnd.nextInt(20))
        for (i <- 0 until spec.medPerStay) {
          // the first order crosses include_time = 24 h; later ones may
          // start before intime
          val (st, en) =
            if (i == 0) (intime + 20 * 3600L, intime + 28 * 3600L)
            else {
              val st0 = intime - 3600L + (rnd.nextDouble() * losSec).toLong
              (st0, st0 + (1 + rnd.nextInt(30)) * 3600L)
            }
          val rate: Any = if (rnd.nextInt(20) == 0) null else (1 + rnd.nextInt(10)).toDouble
          val amount: Any = rate match {
            case r: Double => r * ((en - st) / 3600L)
            case _ => (1 + rnd.nextInt(50)).toDouble
          }
          orderId += 1
          meds += Array[Any](subject, stay, 221000L + rnd.nextInt(30), st, en, rate, amount, orderId)
        }
        // one ICD-9 code per mapping kind, then random codes
        diag += Array[Any](subject, hadm, rootsOne(rnd.nextInt(rootsOne.size)) + rnd.nextInt(10), 9)
        diag += Array[Any](subject, hadm, rootsDup(rnd.nextInt(rootsDup.size)) + rnd.nextInt(10), 9)
        diag += Array[Any](subject, hadm, rootsNone(rnd.nextInt(rootsNone.size)) + rnd.nextInt(10), 9)
        for (_ <- 3 until spec.diagPerStay) {
          val code: (String, Int) = rnd.nextInt(3) match {
            case 0 => (icd10(rnd.nextInt(icd10.size)), 10)
            case 1 => (rootsOne(rnd.nextInt(rootsOne.size)) + rnd.nextInt(10), 9)
            case _ => (rootsDup(rnd.nextInt(rootsDup.size)) + rnd.nextInt(10), 9)
          }
          diag += Array[Any](subject, hadm, code._1, code._2)
        }
        // next admission: the chain subject has one gap inside 30 days
        // and one outside; others draw either kind
        val gapDays =
          if (role == 2) (if (v == 0) 10 else 45)
          else if (rnd.nextBoolean()) 1 + rnd.nextInt(28) else 32 + rnd.nextInt(90)
        t = disch + gapDays * 86400L + rnd.nextInt(86400)
      }
      if (dod == null && rnd.nextInt(20) == 0) dod = t // dies after the last discharge
      val anchorYear = 2150 + rnd.nextInt(5)
      patients += Array[Any](subject, Seq("F", "M")(rnd.nextInt(2)), age, anchorYear,
        Seq("2008 - 2010", "2011 - 2013", "2014 - 2016", "2017 - 2019")(rnd.nextInt(4)), dod)
    }
    val dIcd = (rootsOne ++ rootsDup ++ rootsNone).flatMap(r => (0 until 10).map(d =>
      Array[Any](s"$r$d", s"condition $r$d"))) ++ icd10.map(c => Array[Any](c, s"condition $c"))
    Seq(
      Table("core/patients.csv.gz", MimicSchemas.patients, patients.toSeq),
      Table("core/admissions.csv.gz", MimicSchemas.admissions, admissions.toSeq),
      Table("icu/icustays.csv.gz", MimicSchemas.icustays, icustays.toSeq),
      Table("icu/chartevents.csv.gz", MimicSchemas.chartevents, chart.toSeq),
      Table("icu/outputevents.csv.gz", MimicSchemas.outputevents, out.toSeq),
      Table("icu/procedureevents.csv.gz", MimicSchemas.procedureevents, proc.toSeq),
      Table("icu/inputevents.csv.gz", MimicSchemas.inputevents, meds.toSeq),
      Table("hosp/diagnoses_icd.csv.gz", MimicSchemas.diagnosesIcd, diag.toSeq),
      Table("hosp/d_icd_diagnoses.csv.gz", MimicSchemas.dIcd, dIcd))
  }

  /** Write the tree under `root`: csv.gz files, or (when `spark` is
    * given) one Parquet directory per table. The mapping TSV is always
    * plain text. */
  def write(spec: MimicSpec, seed: Long, root: String, parquetWith: Option[SparkSession]): Unit = {
    tables(spec, seed).foreach { t =>
      parquetWith match {
        case Some(spark) => Write.parquet(spark, root, t, files = 1)
        case None => Write.csvGz(root, t)
      }
    }
    Write.text(root, MapTsv, mappingLines)
  }
}

/** Seeded document corpus in the `documents` schema (doc_id, text,
  * lang, source, n_chars): a Zipf vocabulary whose head is the Gopher
  * stopword set, 5 languages, 20 sources, exact duplicates and
  * near-duplicate clusters (copies with a few tokens replaced). */
final case class CorpusSpec(docs: Int, vocab: Int, minTokens: Int, maxTokens: Int,
    exactDupFrac: Double, nearDupFrac: Double)

object CorpusGen {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val syll = Seq("ka", "lo", "mi", "ren", "to", "sa", "vel", "dor", "ni", "qua",
    "ber", "shi", "mon", "tal", "zu", "pe", "ox", "lin", "gra", "fe")

  def vocabulary(n: Int): IndexedSeq[String] = {
    // the head of the Zipf ranking is the Gopher rule's stopword set, so
    // typical documents pass the "at least two stopwords" gate
    val head = IndexedSeq("the", "a", "of", "and", "be", "to", "in", "it")
    val rest = (0 until n - head.size).map { i =>
      var k = i
      val sb = new StringBuilder
      do { sb.append(syll(k % syll.size)); k = k / syll.size } while (k > 0)
      if (sb.length < 4) sb.append(syll(i % 7))
      sb.toString
    }
    head ++ rest
  }

  def rows(spec: CorpusSpec, seed: Long): Seq[Array[Any]] = {
    val rnd = new scala.util.Random(seed)
    val vocab = vocabulary(spec.vocab)
    // Zipf(1) CDF over ranks
    val w = (1 to vocab.size).map(r => 1.0 / r)
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      vocab(math.min(if (i < 0) -i - 1 else i, vocab.size - 1))
    }
    val langs = Seq("en", "de", "fr", "es", "zh")
    val texts = ArrayBuffer.empty[String]
    val out = ArrayBuffer.empty[Array[Any]]
    var pendingCluster = 0
    var clusterBase = ""
    for (id <- 0 until spec.docs) {
      val r = rnd.nextDouble()
      val text =
        if (pendingCluster > 0) {
          pendingCluster -= 1
          val toks = clusterBase.split(' ')
          (0 until math.max(1, toks.length / 30)).foreach(_ => toks(rnd.nextInt(toks.length)) = word())
          toks.mkString(" ")
        } else if (texts.nonEmpty && r < spec.exactDupFrac) texts(rnd.nextInt(texts.size))
        else {
          val n = spec.minTokens + rnd.nextInt(spec.maxTokens - spec.minTokens + 1)
          val t = Seq.fill(n)(word()).mkString(" ")
          if (r < spec.exactDupFrac + spec.nearDupFrac / 6.0) {
            // near-dup cluster of 2..10 docs: this one plus 1..9 edits
            pendingCluster = 1 + rnd.nextInt(9)
            clusterBase = t
          }
          t
        }
      texts += text
      out += Array[Any](id.toLong, text, langs(rnd.nextInt(langs.size)),
        s"src${rnd.nextInt(20)}", text.length.toLong)
    }
    out.toSeq
  }

  /** Writes `<dir>/documents.parquet`. */
  def write(spark: SparkSession, spec: CorpusSpec, seed: Long, dir: String): Unit =
    Write.parquet(spark, dir, Table("documents", schema, rows(spec, seed)), files = 4)
}

/** Seeded clustered vectors (vec_id, embedding: array<float>): Gaussian
  * blobs around random unit centroids. */
final case class VectorSpec(n: Int, dim: Int, clusters: Int, spread: Double)

object VectorGen {
  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))

  def vectors(spec: VectorSpec, seed: Long, firstId: Long = 0L): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    val cents = Array.fill(spec.clusters) {
      val c = Array.fill(spec.dim)(rnd.nextGaussian())
      val nrm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / nrm)
    }
    (0 until spec.n).map { i =>
      val c = cents(rnd.nextInt(spec.clusters))
      firstId + i -> Array.tabulate(spec.dim)(d => (c(d) + rnd.nextGaussian() * spec.spread).toFloat)
    }
  }

  def df(spark: SparkSession, vs: Seq[(Long, Array[Float])]): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = vs.map { case (id, e) => Row(id, e.toSeq) }
    spark.createDataFrame(rows.asJava, schema)
  }
}
