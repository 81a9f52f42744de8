package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryPoolMXBean, MemoryType}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed operation's outcome: operation latencies in seconds, input rows
  * processed, and how many of its operations failed out of how many. */
final case class OpResult(latencies: Seq[Double], rows: Long, failed: Int, attempted: Int)

trait Workload {
  def name: String
  /** Generate inputs, load what the program needs, warm up. */
  def setup(): Unit
  /** Timed operations every run makes, however long they take: the first
    * operation after the warm-up is still slower than later ones, so a
    * varying count would shift the median. */
  def minOps: Int = 1
  /** Run timed operation `i` and check its outputs. */
  def op(i: Int): OpResult
  /** Problems found by the checks. */
  def finish(): Seq[String]
  /** Planted near-duplicate recall, for the dedup workloads. */
  def recall: Option[Double] = None
  /** Operations found wrong by checks that need the whole run. */
  def lateFailures(): Int = 0
  /** Per-layer counters measured after the traced run, outside its timing;
    * `drainTotals` are the per-operation totals of the `stream.drain` span. */
  def counters(drainTotals: Seq[Tracer.Measures]): Map[String, Double] = Map.empty
}

/** Runs one workload: set-up, a closed loop of operations for the given
  * seconds with one client, correctness checks, and one result line.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  * --launch-ms EPOCH_MS [--spans FILE]. `--launch-ms` is when the JVM was
  * launched, so set-up time includes JVM start.
  */
object Main {
  val Workloads = Seq("pgx_clinic", "pgx_cohort", "corpus_dedup", "stream_dedup")

  val Spans: Seq[String] = Seq("io.read_variants", "pipeline.run_job",
    "pipeline.job_store_write", "report.phenotype", "report.genotype",
    "report.collapse_write") ++
    Seq("hetVariant", "haplotypeCalls", "geneHaplotype", "novelHaplotype", "genotype",
      "genePhenotype", "genotypeDrugRecommendation", "phenotypeDrugRecommendation")
      .map("pipeline.stage." + _) ++
    Seq("ops.dedup.exact", "ops.dedup.near_pairs", "ops.dedup.clusters", "ops.dedup.keep",
      "stream.drain")

  val SpanMeasures: Seq[(String, String)] = Seq("s" -> "s", "jobs" -> "count",
    "driver_gap_s" -> "s", "executor_cpu_s" -> "s", "shuffle_bytes" -> "B")

  val Counters: Seq[(String, String)] = Seq(
    "stream.batch.trigger_s" -> "s", "stream.batch.add_batch_s" -> "s",
    "stream.batch.planning_s" -> "s", "stream.batch.wal_commit_s" -> "s",
    "stream.batch.jobs" -> "count",
    "ops.dedup.candidate_pairs" -> "count", "ops.dedup.verified_ratio" -> "ratio",
    "state.files" -> "count", "state.bytes_per_doc" -> "B/doc", "state.write_amp" -> "ratio",
    "storage.cached_rdds_end" -> "count", "storage.cached_bytes_end" -> "B",
    "jvm.gc_s" -> "s", "trace.overhead_s" -> "s", "trace.overhead_ratio" -> "ratio")

  def note(s: String): Unit = println(s"# $s")

  def files(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isFile) Seq(dir)
    else dir.listFiles().toSeq.flatMap(files)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum / 1000.0

  private def oldGen: Seq[MemoryPoolMXBean] =
    ManagementFactory.getMemoryPoolMXBeans.toArray.map(_.asInstanceOf[MemoryPoolMXBean]).toSeq
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))

  /** CPU time the hypervisor gave to other guests, from /proc/stat. */
  private def stealSeconds: Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+")(8).toDouble / 100 finally src.close()
  }

  private def procField(file: String, key: String): String = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key)).map(_.stripPrefix(key).trim).getOrElse("")
    finally src.close()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def session(name: String, work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def create(name: String, spark: SparkSession, tracer: Tracer, seed: Long,
      work: String): Workload = name match {
    case "pgx_clinic" | "pgx_cohort" => new PgxWorkload(name, spark, tracer, seed, work)
    case "corpus_dedup" => new CorpusDedupWorkload(spark, tracer, seed, work)
    case "stream_dedup" => new StreamDedupWorkload(spark, tracer, seed, work)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val launchMs = a("launch-ms").toDouble

    val spark = session(s"perfbench-$workload", work, cores)
    val sc = spark.sparkContext
    val tracer = new Tracer(spark)
    val w = create(workload, spark, tracer, seed, work)

    note(s"host nproc=$cores mem_total=${procField("/proc/meminfo", "MemTotal:")} " +
      s"loadavg=${scala.io.Source.fromFile("/proc/loadavg").mkString.trim} " +
      s"heap_max_mb=${Runtime.getRuntime.maxMemory / 1048576} " +
      s"java=${System.getProperty("java.version")} spark=${spark.version} " +
      s"scala=${scala.util.Properties.versionNumberString}")
    note(s"load: one client, closed loop, one process, Spark local[$cores]")
    note(f"session ready after ${(System.currentTimeMillis() - launchMs) / 1000}%.2f s")

    w.setup()
    val latencies = mutable.ArrayBuffer[(Double, Boolean)]()
    var rows = 0L
    var failed = 0
    var attempted = 0
    var tracedOps = 0
    var plainOps = 0
    val gc0 = gcSeconds
    oldGen.foreach(_.resetPeakUsage())
    val steal0 = stealSeconds
    val start = System.nanoTime()
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while (i < w.minOps || elapsed < seconds || (traced && (tracedOps == 0 || plainOps == 0))) {
      // The traced run alternates traced and untraced operations, so the
      // tracing overhead is measured under the same conditions.
      val on = traced && i % 2 == 0
      tracer.runId = i
      if (on) { tracer.attach(); tracer.enabled = true }
      val r =
        try w.op(i)
        catch {
          case e: Exception =>
            note(s"operation $i failed: $e")
            OpResult(Nil, 0, 1, 1)
        } finally if (on) { tracer.enabled = false; tracer.detach() }
      latencies ++= r.latencies.map(_ -> on)
      rows += r.rows
      failed += r.failed
      attempted += r.attempted
      if (on) tracedOps += 1 else plainOps += 1
      i += 1
    }
    val wallS = elapsed
    // Storage left behind by the operations, before any check releases it.
    val cachedRdds = sc.getPersistentRDDs.size
    val cachedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    note("operation latencies (s): " + latencies.map(l => f"${l._1}%.3f").mkString(" "))
    note(f"cpu steal during the timed part: ${stealSeconds - steal0}%.2f s over $cores cpus")
    val gcS = gcSeconds - gc0
    failed += w.lateFailures()
    val problems = w.finish()
    problems.take(20).foreach(p => note(s"check failed: $p"))

    val lat = latencies.map(_._1).toSeq
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!traced) {
      val n = lat.size
      metrics("setup_s") = (setupS, "s")
      metrics("op_p50_s") = (median(lat), "s")
      metrics("rows_per_s") = (rows / wallS, "rows/s")
      metrics("peak_rss_mb") =
        (procField("/proc/self/status", "VmHWM:").stripSuffix("kB").trim.toDouble / 1024, "MB")
      // Peak RSS counts the fixed young generation, the old generation's
      // highest occupancy and native memory. The two lines below split out
      // the heap part: the old generation's peak (live data plus garbage
      // that no concurrent cycle has reclaimed yet) and the live heap after
      // a full collection once the checks are done.
      note(f"metric old_gen_peak_mb = ${oldGen.map(_.getPeakUsage.getUsed).sum / 1048576.0}%.1f MB")
      System.gc()
      note(f"metric live_heap_end_mb = " +
        f"${ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0}%.1f MB")
      note(f"metric wall_s = $wallS%.4f s")
      if (n >= 11) {
        val p = 100.0 * (n - 10) / n
        note(f"metric op_tail_s = ${lat.sorted.apply(n - 11)}%.4f s (p$p%.1f of $n operations)")
      } else note(s"metric op_tail_s = n/a s (needs 11 operations, got $n; run longer)")
      note(f"metric failed_ratio = ${failed.toDouble / math.max(1, attempted)}%.4f ($failed of $attempted)")
      w.recall.foreach(r => note(f"metric dedup_recall = $r%.4f"))
    } else {
      val totals = tracer.spanTotals()
      val runs = (0 until i by 2)
      def perRun(span: String)(f: Tracer.Measures => Double): Double =
        median(runs.map(r => totals.get((r, span)).map(f).getOrElse(0.0)))
      Spans.foreach { s =>
        metrics(s"$s.s") = (perRun(s)(_.selfS), "s")
        metrics(s"$s.jobs") = (perRun(s)(_.jobs.toDouble), "count")
        metrics(s"$s.driver_gap_s") = (perRun(s)(_.gapS), "s")
        metrics(s"$s.executor_cpu_s") = (perRun(s)(_.cpuS), "s")
        metrics(s"$s.shuffle_bytes") = (perRun(s)(_.shuffleBytes.toDouble), "B")
      }
      val c = mutable.LinkedHashMap[String, Double]()
      Counters.foreach { case (k, _) => c(k) = 0.0 }
      c("storage.cached_rdds_end") = cachedRdds
      c("storage.cached_bytes_end") = cachedBytes.toDouble
      c("jvm.gc_s") = gcS
      val on = median(latencies.filter(_._2).map(_._1).toSeq)
      val off = median(latencies.filterNot(_._2).map(_._1).toSeq)
      c("trace.overhead_s") = on - off
      c("trace.overhead_ratio") = if (off > 0) (on - off) / off else 0.0
      c ++= w.counters(runs.flatMap(r => totals.get((r, "stream.drain"))))
      Counters.foreach { case (k, u) => metrics(k) = (c(k), u) }
      a.get("spans").foreach { path =>
        new File(path).getParentFile.mkdirs()
        val out = new PrintWriter(path)
        try tracer.spanLines.foreach(out.println) finally out.close()
        note(s"spans written to $path")
      }
    }
    metrics.foreach { case (k, (v, u)) => println(s"metric $k = ${num(v)} $u") }
    val correct = problems.isEmpty && failed == 0
    spark.stop()
    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""PERFBENCH_RESULT {"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${m.mkString(", ")}}}""")
  }
}
