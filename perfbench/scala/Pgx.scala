package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.io.PipelineInputs
import graft.pipeline.{JobStore, Pipeline, ReferenceTables}
import graft.report.{CondensedJoin, Reports}

/** A generated PharmGKB-shaped reference panel.
  *
  * Haplotype *1 of each gene carries the reference allele at every SNP; every
  * other haplotype mutates each SNP with probability [[Panel.MutationRate]]
  * to another of A/C/G. Alleles never include T, so a planted T is always a
  * novel allele. Each haplotype has a function level 0..2 and a gene's
  * phenotype is named by the sum over the two haplotypes. Drug genes get
  * phenotype rows for every diplotype, one recommendation per non-normal
  * phenotype, some two-gene phenotype recommendations (so the containment
  * join needs a whole set) and a few diplotype-keyed recommendations.
  */
final class Panel(seed: Long, shapes: Seq[(Int, Int)], val drugGenes: Seq[Int]) {
  import Panel._
  private val rnd = new java.util.Random(seed * 7919L + 17)

  val geneNames: Vector[String] = shapes.indices.map(g => f"G$g%03d").toVector
  /** snp ids per gene, globally unique. */
  val snps: Vector[Vector[String]] = {
    var next = 1000
    shapes.map { case (_, s) => Vector.tabulate(s) { _ => next += 1; s"rs$next" } }.toVector
  }
  /** alleles(g)(h)(s); h = 0 is *1. */
  val alleles: Vector[Array[Array[Char]]] = shapes.map { case (h, s) =>
    val ref = Array.fill(s)(Letters(rnd.nextInt(3)))
    val rows = mutable.ArrayBuffer(ref)
    val seen = mutable.HashSet(ref.mkString)
    while (rows.size < h) {
      val r = ref.map(a => if (rnd.nextDouble() < MutationRate) other(a) else a)
      if (seen.add(r.mkString)) rows += r
    }
    rows.toArray
  }.toVector
  val hapNames: Vector[Vector[String]] =
    shapes.map { case (h, _) => Vector.tabulate(h)(i => s"*${i + 1}") }.toVector
  val function: Vector[Array[Int]] = shapes.map { case (h, _) =>
    Array.tabulate(h)(i => if (i == 0) 2 else rnd.nextInt(3))
  }.toVector

  private def other(a: Char): Char = {
    val o = Letters.filter(_ != a)
    o(rnd.nextInt(o.length))
  }

  def phenotype(g: Int, h1: Int, h2: Int): String =
    PhenotypeNames(function(g)(h1) + function(g)(h2))

  /** Diplotype as the pipeline orders it: names sorted as strings. */
  def diplotype(g: Int, h1: Int, h2: Int): (String, String) = {
    val (a, b) = (hapNames(g)(h1), hapNames(g)(h2))
    if (a <= b) (a, b) else (b, a)
  }

  /** Phenotype-path recommendations: id -> required (gene, phenotype) set. */
  val phenoRecs: Vector[(Long, Set[(String, String)])] = {
    val single = for (g <- drugGenes; p <- Seq(PhenotypeNames(0), PhenotypeNames(1)))
      yield Set(geneNames(g) -> p)
    val pairs = drugGenes.sliding(2).collect { case Seq(a, b) =>
      Set(geneNames(a) -> PhenotypeNames(2), geneNames(b) -> PhenotypeNames(4))
    }.toSeq
    (single ++ pairs).zipWithIndex.map { case (s, i) => (i + 1L, s) }.toVector
  }

  /** Genotype-path recommendations: id -> required (gene, hap1, hap2) set. */
  val genoRecs: Vector[(Long, Set[(String, String, String)])] = {
    val base = phenoRecs.size + 1L
    drugGenes.flatMap { g =>
      val h = hapNames(g).size
      Seq((0, 1 % h), (0, 0), (1 % h, 2 % h)).distinct.map { case (a, b) =>
        val (x, y) = diplotype(g, a, b)
        Set((geneNames(g), x, y))
      }
    }.zipWithIndex.map { case (s, i) => (base + i, s) }.toVector
  }

  /** Write the five reference tables as parquet under `dir`. */
  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val recs = (phenoRecs.map(_._1) ++ genoRecs.map(_._1)).map(id =>
      (id, s"drug$id", s"implications $id", s"recommendation $id", "A", s"eg $id"))
    recs.toDF("id", "drug_name", "implications", "recommendation", "classification",
      "diplotype_egs").coalesce(1).write.parquet(s"$dir/drug_recommendation")
    phenoRecs.flatMap { case (id, s) => s.toSeq.map { case (g, p) => (g, p, id) } }
      .toDF("gene_name", "phenotype_name", "drug_recommendation_id")
      .coalesce(1).write.parquet(s"$dir/gene_phenotype_drug_recommendation")
    genoRecs.flatMap { case (id, s) => s.toSeq.map { case (g, a, b) => (g, a, b, id) } }
      .toDF("gene_name", "haplotype_name1", "haplotype_name2", "drug_recommendation_id")
      .coalesce(1).write.parquet(s"$dir/genotype_drug_recommendation")
    drugGenes.flatMap { g =>
      val h = hapNames(g).size
      for (a <- 0 until h; b <- a until h) yield {
        val (x, y) = diplotype(g, a, b)
        (geneNames(g), x, y, phenotype(g, a, b))
      }
    }.toDF("gene_name", "haplotype_name1", "haplotype_name2", "phenotype_name")
      .coalesce(1).write.parquet(s"$dir/genotype_phenotype")
    val (names, sn, al, hn) = (geneNames, snps, alleles, hapNames)
    spark.sparkContext.parallelize(shapes.indices, math.max(1, shapes.size / 8))
      .flatMap { g =>
        for (h <- al(g).indices.iterator; s <- sn(g).indices.iterator)
          yield (names(g), hn(g)(h), sn(g)(s), al(g)(h)(s).toString)
      }
      .toDF("gene_name", "haplotype_name", "snp_id", "allele")
      .write.parquet(s"$dir/gene_haplotype_variant")
  }
}

object Panel {
  val Letters: Array[Char] = Array('A', 'C', 'G')
  val Novel = 'T'
  val MutationRate = 0.35
  val PhenotypeNames: Vector[String] = Vector("poor metabolizer",
    "intermediate metabolizer", "decreased function", "normal metabolizer",
    "rapid metabolizer")

  def refs(spark: SparkSession, dir: String): ReferenceTables = {
    def t(name: String) = spark.read.parquet(s"$dir/$name")
    ReferenceTables(t("drug_recommendation"), t("gene_phenotype_drug_recommendation"),
      t("gene_haplotype_variant"), t("genotype_phenotype"), t("genotype_drug_recommendation"))
  }
}

/** One planted patient gene: haplotype indices per chromosome, the assayed
  * SNP indices and an optional novel allele (SNP index, chromosome 0/1). */
final case class Plant(gene: Int, h1: Int, h2: Int, assay: IndexedSeq[Int],
    novel: Option[(Int, Int)])

/** What the generator knows about one variant file. */
final case class PgxJobInput(path: String, rows: Long, patients: Map[String, Seq[Plant]])

object PgxInputs {

  /** Write a variant file for `patients` (id -> plants) and return it. */
  def write(panel: Panel, path: String, patients: Seq[(String, Seq[Plant])]): PgxJobInput = {
    val w = new BufferedWriter(new FileWriter(path))
    var rows = 0L
    try {
      w.write(graft.io.VariantReader.rawHeader.mkString("\t")); w.write('\n')
      patients.foreach { case (pid, plants) =>
        plants.foreach { p =>
          p.assay.foreach { s =>
            var a1 = panel.alleles(p.gene)(p.h1)(s)
            var a2 = panel.alleles(p.gene)(p.h2)(s)
            p.novel.foreach { case (ns, chrom) =>
              if (ns == s) { if (chrom == 0) a1 = Panel.Novel else a2 = Panel.Novel }
            }
            val call = if (a1 == a2) a1.toString else s"$a1$a2"
            w.write(s"P1\tE1\tC1\tA${rows % 96}\t${panel.snps(p.gene)(s)}\t$call\tD\t$pid\tbench\n")
            rows += 1
          }
        }
      }
    } finally w.close()
    PgxJobInput(path, rows, patients.toMap)
  }

  /** Draw a haplotype: *1 with probability 0.45, otherwise uniform. */
  def drawHap(rnd: java.util.Random, nHaps: Int): Int =
    if (rnd.nextDouble() < 0.45) 0 else 1 + rnd.nextInt(nHaps - 1)

  def plant(rnd: java.util.Random, panel: Panel, gene: Int, assay: IndexedSeq[Int],
      novelShare: Double): Plant = {
    val n = panel.hapNames(gene).size
    val novel = if (rnd.nextDouble() < novelShare)
      Some((assay(rnd.nextInt(assay.size)), rnd.nextInt(2))) else None
    Plant(gene, drawHap(rnd, n), drawHap(rnd, n), assay, novel)
  }
}

/** Expected pipeline outputs for planted patients whose diplotype the
  * pipeline can call without ambiguity.
  *
  * A plant is checked when it has no novel allele, each of its haplotypes is
  * the only one with its alleles on the assayed SNPs, and, with two or more
  * het SNPs, no third haplotype fits the het alleles (otherwise the het
  * phasing yields more than one combination). Checked plants must come out
  * as one combination with the planted diplotype and phenotype and no novel
  * call; recommendations are checked where every gene they need is checked.
  */
final class PgxExpect(panel: Panel) {

  def callable(p: Plant): Boolean = p.novel.isEmpty && {
    val al = panel.alleles(p.gene)
    def sig(h: Int) = p.assay.map(al(h)(_))
    val s1 = sig(p.h1)
    val s2 = sig(p.h2)
    def unique(s: IndexedSeq[Char], h: Int) =
      al.indices.forall(o => o == h || sig(o) != s)
    val het = p.assay.filter(s => al(p.h1)(s) != al(p.h2)(s))
    unique(s1, p.h1) && unique(s2, p.h2) && (het.size < 2 ||
      al.indices.forall(o => o == p.h1 || o == p.h2 ||
        het.exists(s => al(o)(s) != al(p.h1)(s) && al(o)(s) != al(p.h2)(s))))
  }

  /** Problems found in one job's outputs (empty = correct). */
  def check(in: PgxJobInput, out: PgxOutputs): Seq[String] = {
    val problems = mutable.ArrayBuffer[String]()
    in.patients.foreach { case (pid, plants) =>
      val ok = plants.filter(callable)
      val okGenes = ok.map(p => panel.geneNames(p.gene)).toSet
      ok.foreach { p =>
        val g = panel.geneNames(p.gene)
        val (x, y) = panel.diplotype(p.gene, p.h1, p.h2)
        val want = Set((x, y, 1, 1))
        val got = out.genotype.getOrElse((pid, g), Set.empty)
        if (got != want) problems += s"$pid $g genotype $got, planted $want"
        val ph = out.phenotype.getOrElse((pid, g), Set.empty)
        if (ph != Set(panel.phenotype(p.gene, p.h1, p.h2)) &&
            panel.drugGenes.contains(p.gene))
          problems += s"$pid $g phenotype $ph"
        if (out.novel.contains((pid, g))) problems += s"$pid $g novel call"
      }
      val phen: Set[(String, String)] = ok.filter(p => panel.drugGenes.contains(p.gene))
        .map(p => (panel.geneNames(p.gene), panel.phenotype(p.gene, p.h1, p.h2))).toSet
      val dips: Set[(String, String, String)] = ok.map { p =>
        val (x, y) = panel.diplotype(p.gene, p.h1, p.h2)
        (panel.geneNames(p.gene), x, y)
      }.toSet
      val gotPheno = out.phenoRecs.getOrElse(pid, Set.empty)
      panel.phenoRecs.foreach { case (id, need) =>
        if (need.forall(n => okGenes(n._1)) && need.subsetOf(phen) != gotPheno(id))
          problems += s"$pid phenotype recommendation $id expected=${need.subsetOf(phen)}"
      }
      val gotGeno = out.genoRecs.getOrElse(pid, Set.empty)
      panel.genoRecs.foreach { case (id, need) =>
        if (need.forall(n => okGenes(n._1)) && need.subsetOf(dips) != gotGeno(id))
          problems += s"$pid genotype recommendation $id expected=${need.subsetOf(dips)}"
      }
    }
    if (out.reportPheno != out.phenoRecs.toSeq.flatMap { case (p, r) => r.map(p -> _) }.toSet)
      problems += "phenotype report does not match its stage"
    if (out.reportGeno != out.genoRecs.toSeq.flatMap { case (p, r) => r.map(p -> _) }.toSet)
      problems += "genotype report does not match its stage"
    problems.toSeq
  }

  /** Checked plants among `in`, and all plants. */
  def coverage(in: PgxJobInput): (Int, Int) = {
    val all = in.patients.values.flatten.toSeq
    (all.count(callable), all.size)
  }
}

/** The outputs a check reads, collected from the persisted stage frames. */
final case class PgxOutputs(
    genotype: Map[(String, String), Set[(String, String, Int, Int)]],
    phenotype: Map[(String, String), Set[String]],
    novel: Set[(String, String)],
    phenoRecs: Map[String, Set[Long]],
    genoRecs: Map[String, Set[Long]],
    reportPheno: Set[(String, Long)],
    reportGeno: Set[(String, Long)])

/** One clinical job through the program's public calls. */
final class PgxJob(spark: SparkSession, tracer: Tracer, refs: ReferenceTables,
    store: JobStore, outDir: String) {

  /** Dependency order of the stages the job materialises after `variant`. */
  val stageOrder = Seq("hetVariant", "haplotypeCalls", "geneHaplotype", "novelHaplotype",
    "genotype", "genePhenotype", "genotypeDrugRecommendation", "phenotypeDrugRecommendation")

  /** Run the job; returns the seconds it took and its outputs. */
  def run(in: PgxJobInput, jobId: Long): (Double, PgxOutputs) = {
    val t0 = System.nanoTime()
    val variants = tracer.span("io.read_variants") {
      PipelineInputs.read(spark, "variant", in.path)
    }
    val stages = tracer.span("pipeline.run_job") {
      Pipeline.runJob(spark, refs, jobId, variants = Some(variants))
    }
    tracer.span("io.read_variants")(stages("variant").count())
    stageOrder.foreach(s => tracer.span(s"pipeline.stage.$s")(stages(s).count()))
    tracer.span("pipeline.job_store_write")(store.writeAll(stages, jobId))
    val pheno = tracer.span("report.phenotype") {
      Reports.phenotypeDrugRecommendationReport(spark, stages, refs, jobId)
    }
    val geno = tracer.span("report.genotype") {
      Reports.genotypeDrugRecommendationReport(spark, stages, refs, jobId)
    }
    val (rp, rg) = tracer.span("report.collapse_write") {
      (writeReport(pheno, s"$outDir/job$jobId-phenotype.tsv"),
        writeReport(geno, s"$outDir/job$jobId-genotype.tsv"))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val out = collect(stages, rp, rg)
    stages.values.foreach(_.unpersist())
    (seconds, out)
  }

  /** Collapse, render and write one report; returns its (patient,
    * recommendation) pairs as read back from the rendered rows. */
  private def writeReport(report: DataFrame, path: String): Set[(String, Long)] = {
    val header = report.columns.toSeq
    val rows = CondensedJoin.collapseRows(report).toVector
    val w = new BufferedWriter(new FileWriter(path))
    try w.write(CondensedJoin.toDsv(header, rows.iterator)) finally w.close()
    rows.flatMap(r => for (p <- r.get(header(0)); id <- r.get(header(1)))
      yield (p.toString, id.toString.toLong)).toSet
  }

  private def collect(stages: Map[String, DataFrame], rp: Set[(String, Long)],
      rg: Set[(String, Long)]): PgxOutputs = {
    def rows(stage: String, cols: String*): Array[Row] =
      stages(stage).select(cols.map(col): _*).collect()
    val genotype = rows("genotype", "patient_id", "gene_name", "haplotype_name1",
      "haplotype_name2", "het_combo", "het_combos")
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) => k -> rs.map(r => (r.getString(2), r.getString(3),
        r.getAs[Number](4).intValue, r.getAs[Number](5).intValue)).toSet }
    val phenotype = rows("genePhenotype", "patient_id", "gene_name", "phenotype_name")
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) => k -> rs.map(_.getString(2)).toSet }
    val novel = rows("novelHaplotype", "patient_id", "gene_name")
      .map(r => (r.getString(0), r.getString(1))).toSet
    def recs(stage: String) = rows(stage, "patient_id", "drug_recommendation_id")
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getAs[Number](1).longValue).toSet }
    PgxOutputs(genotype, phenotype, novel, recs("phenotypeDrugRecommendation"),
      recs("genotypeDrugRecommendation"), rp, rg)
  }
}

/** `pgx_clinic` and `pgx_cohort`: planted variant files run as jobs. */
final class PgxWorkload(val name: String, spark: SparkSession, tracer: Tracer,
    seed: Long, work: String) extends Workload {

  private val clinic = name == "pgx_clinic"
  private val rnd = new java.util.Random(seed)
  private var panel: Panel = _
  private var job: PgxJob = _
  private var expect: PgxExpect = _
  private var inputs: Vector[PgxJobInput] = Vector.empty
  private var problems = Vector.empty[String]

  def setup(): Unit = {
    // Clinic: one large gene (133 x 151) and nine smaller ones; the 23-SNP
    // assay covers three small genes fully and 8 SNPs of the large one.
    // Cohort: the reference load test's 100 genes x 132 haplotypes x 151 SNPs.
    val shapes =
      if (clinic) Seq((133, 151), (40, 60), (25, 30), (15, 20), (10, 14), (8, 10),
        (6, 8), (5, 6), (4, 5), (3, 4))
      else Seq.fill(100)((132, 151))
    val drug = if (clinic) Seq(0, 7, 8, 9, 3) else (0 until 20)
    panel = new Panel(seed, shapes, drug)
    expect = new PgxExpect(panel)
    val refDir = s"$work/reference"
    val tp = System.nanoTime()
    panel.write(spark, refDir)
    Main.note(f"reference panel written in ${(System.nanoTime() - tp) / 1e9}%.2f s")
    val refs = Panel.refs(spark, refDir)
    new File(s"$work/out").mkdirs()
    job = new PgxJob(spark, tracer, refs, new JobStore(s"$work/jobstore"), s"$work/out")
    val inDir = new File(s"$work/variants"); inDir.mkdirs()
    def patients(prefix: String, n: Int): Seq[(String, Seq[Plant])] =
      (0 until n).map { i =>
        val plants =
          if (clinic) {
            val bigAssay = rnd.ints(0, 151).distinct().limit(8).toArray.toVector.sorted
            Seq(PgxInputs.plant(rnd, panel, 0, bigAssay, 0.04)) ++
              Seq(7, 8, 9).map(g => PgxInputs.plant(rnd, panel, g,
                panel.snps(g).indices, 0.04))
          } else {
            val g = rnd.nextInt(shapes.size)
            Seq(PgxInputs.plant(rnd, panel, g, panel.snps(g).indices, 0.02))
          }
        f"$prefix-$i%05d" -> plants
      }
    val (files, perFile) = if (clinic) (12, 22) else (2, 500)
    inputs = (0 until files).map(f =>
      PgxInputs.write(panel, s"$inDir/job$f.tsv", patients(s"S$seed-$f", perFile))).toVector
    val warm = PgxInputs.write(panel, s"$inDir/warm.tsv", patients("W", perFile))
    Main.note(f"warm-up job: ${job.run(warm, 900000L)._1}%.2f s")
    val (ok, all) = inputs.map(expect.coverage).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val het = hetShare()
    Main.note(f"checked plants $ok/$all, het share of variant calls $het%.3f")
  }

  private def hetShare(): Double = {
    val src = scala.io.Source.fromFile(inputs.head.path)
    try {
      val calls = src.getLines().drop(1).map(_.split('\t')(5)).toVector
      calls.count(_.length == 2).toDouble / calls.size
    } finally src.close()
  }

  def op(i: Int): OpResult = {
    val in = inputs(i % inputs.size)
    val (seconds, out) = job.run(in, i + 1L)
    val p = expect.check(in, out)
    problems ++= p.take(5)
    OpResult(Seq(seconds), in.rows, if (p.isEmpty) 0 else 1, 1)
  }

  def finish(): Seq[String] = problems
}
