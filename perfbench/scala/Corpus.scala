package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops.Dedup

/** A generated corpus with planted duplicates.
  *
  * Words are drawn Zipf-like from a fixed vocabulary, so common word
  * trigrams recur across unrelated documents and LSH banding yields
  * candidates that verification rejects. Planted: exact copies of
  * standalone documents, and near-duplicate chains of 2-5 documents where
  * each member replaces 1-3 words of the previous one; the two ends of a
  * long chain fall below the threshold, so clusters need several rounds of
  * label propagation.
  */
final class Corpus(seed: Long, val docs: Int, wordsPerDoc: Int = 50) {
  private val rnd = new java.util.Random(seed * 104729L + 3)
  private val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < 5000)
      seen += Array.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString
    seen.toArray
  }
  private val cdf: Array[Double] = {
    val w = vocab.indices.map(r => 1.0 / (r + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    vocab(math.min(if (i < 0) -i - 1 else i, vocab.length - 1))
  }
  private def fresh(): Array[String] = Array.fill(wordsPerDoc)(word())
  private def mutate(d: Array[String], k: Int): Array[String] = {
    val out = d.clone()
    rnd.ints(0, wordsPerDoc).distinct().limit(k).toArray.foreach { p =>
      var w = word()
      while (w == out(p)) w = word()
      out(p) = w
    }
    out
  }

  /** (text, group): group > 0 marks a chain, group < 0 an exact-copy set.
    * The counts are fixed by `docs`, so every seed plants the same amount
    * of duplication: one chain per 36 documents (lengths cycling 2-5, so
    * about a tenth of the corpus), one copy set of 2-3 per 50 documents. */
  private val planted: Vector[(String, Int)] = {
    val out = mutable.ArrayBuffer[(String, Int)]()
    val texts = mutable.HashSet[String]()
    def add(t: String, g: Int): Unit = if (texts.add(t)) out += ((t, g))
    (1 to docs / 36).foreach { c =>
      var d = fresh()
      add(d.mkString(" "), c)
      (1 until 2 + c % 4).foreach { step =>
        d = mutate(d, 1 + (c + step) % 3)
        add(d.mkString(" "), c)
      }
    }
    (1 to docs / 50).foreach { e =>
      val t = fresh().mkString(" ")
      if (texts.add(t)) (0 to 1 + e % 2).foreach(_ => out += ((t, -e)))
    }
    while (out.size < docs) add(fresh().mkString(" "), 0)
    out.take(docs).toVector
  }

  /** Document ids are a seeded permutation, so cluster minima fall anywhere. */
  val rows: Vector[(Long, String)] = {
    val ids = (0L until planted.size).toArray
    var i = ids.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    planted.indices.map(i => (ids(i), planted(i)._1)).toVector
  }
  private val group: Map[Long, Int] = rows.indices.map(i => rows(i)._1 -> planted(i)._2).toMap

  /** Word-trigram sets as the program's shingling defines them. */
  def shingles(text: String): Set[String] =
    text.split(' ').sliding(3).map(_.mkString(" ")).toSet

  private lazy val sh: Map[Long, Set[String]] = rows.map { case (id, t) => id -> shingles(t) }.toMap

  def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Ids that survive exact dedup: the least id of each copy set. */
  lazy val exactKept: Set[Long] =
    rows.groupBy(_._2).values.map(_.map(_._1).min).toSet

  /** Planted pairs at or above `threshold` among `ids` (a < b). */
  def plantedPairs(threshold: Double, ids: Set[Long]): Set[(Long, Long)] =
    rows.filter(r => ids(r._1) && group(r._1) != 0).groupBy(r => group(r._1)).values
      .flatMap { g =>
        val m = g.map(_._1).sorted
        for (i <- m.indices; j <- i + 1 until m.size if jaccard(m(i), m(j)) >= threshold)
          yield (m(i), m(j))
      }.toSet

  def isPlanted(a: Long, b: Long): Boolean = group(a) != 0 && group(a) == group(b)

  def frame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "text")
  }
}

object DedupParams {
  val Threshold = 0.5
  val NumHashes = 8
  val Bands = 4
}

/** Checks shared by the two dedup workloads. */
object DedupCheck {
  /** Problems with `pairs` (a < b, jaccard) against the planted truth. */
  def pairs(c: Corpus, got: Seq[(Long, Long, Double)]): Seq[String] =
    got.flatMap { case (a, b, j) =>
      if (!c.isPlanted(a, b)) Some(s"pair ($a,$b) was not planted")
      else if (math.abs(c.jaccard(a, b) - j) > 1e-6) Some(s"pair ($a,$b) jaccard $j")
      else if (j < DedupParams.Threshold) Some(s"pair ($a,$b) below threshold")
      else None
    }

  /** Connected components of `pairs`, labelled by their least id. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }
}

/** `corpus_dedup`: exact dedup, MinHash near-duplicate pairs, clusters and
  * the keep list over one generated corpus, as one operation. */
final class CorpusDedupWorkload(spark: SparkSession, tracer: Tracer, seed: Long,
    work: String) extends Workload {
  val name = "corpus_dedup"
  private var corpus: Corpus = _
  private var expectedPairs: Set[(Long, Long)] = Set.empty
  private var problems = Vector.empty[String]
  private var found = 0L
  private var lastPairs = 0L
  private val params = DedupParams

  override def minOps: Int = 2

  def setup(): Unit = {
    corpus = new Corpus(seed, 20000)
    corpus.frame(spark).write.parquet(s"$work/corpus")
    expectedPairs = corpus.plantedPairs(params.Threshold, corpus.exactKept)
    val warm = new Corpus(seed + 1, corpus.docs / 4)
    warm.frame(spark).write.parquet(s"$work/warm")
    Main.note(f"warm-up pass: ${run(s"$work/warm")._1}%.2f s")
  }

  private def input(path: String): DataFrame = spark.read.parquet(path)

  /** One pass; returns seconds and the collected results. */
  private def run(path: String): (Double, Array[Long], Seq[(Long, Long, Double)],
      Seq[(Long, Long)], Long) = {
    val t0 = System.nanoTime()
    val docs = input(path)
    val exact = tracer.span("ops.dedup.exact") {
      val e = Dedup.exactDedup(docs, "id", "text").persist()
      e.count(); e
    }
    val pairs = tracer.span("ops.dedup.near_pairs") {
      val p = Dedup.minHashNearDuplicates(exact, "id", "text", params.Threshold,
        params.NumHashes, params.Bands).persist()
      p.count(); p
    }
    val clusters = tracer.span("ops.dedup.clusters") {
      val c = Dedup.duplicateClusters(pairs).persist()
      c.count(); c
    }
    val kept = tracer.span("ops.dedup.keep")(Dedup.keepList(exact, "id", clusters).count())
    val seconds = (System.nanoTime() - t0) / 1e9
    val ids = exact.select("id").collect().map(_.getLong(0))
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val cs = clusters.collect().map(r => (r.getAs[Number](0).longValue,
      r.getAs[Number](1).longValue)).toSeq
    spark.catalog.clearCache()
    (seconds, ids, ps, cs, kept)
  }

  def op(i: Int): OpResult = {
    val (seconds, ids, ps, cs, kept) = run(s"$work/corpus")
    val p = mutable.ArrayBuffer[String]()
    if (ids.toSet != corpus.exactKept || ids.length != corpus.exactKept.size)
      p += s"exact dedup kept ${ids.length}, expected ${corpus.exactKept.size}"
    p ++= DedupCheck.pairs(corpus, ps).take(5)
    val comp = DedupCheck.components(ps.map(x => (x._1, x._2)))
    if (cs.toMap != comp || cs.size != comp.size) p += "clusters differ from the pair components"
    val dropped = comp.count { case (a, b) => a != b }
    if (kept != ids.length - dropped) p += s"keep list has $kept rows, expected ${ids.length - dropped}"
    found = ps.count(x => expectedPairs((x._1, x._2)))
    lastPairs = ps.size
    problems ++= p
    OpResult(Seq(seconds), corpus.docs, if (p.isEmpty) 0 else 1, 1)
  }

  override def recall: Option[Double] = Some(found.toDouble / math.max(1, expectedPairs.size))

  override def counters(drainTotals: Seq[Tracer.Measures]): Map[String, Double] = {
    val cand = Dedup.minHashCandidatePairs(
      Dedup.exactDedup(input(s"$work/corpus"), "id", "text"), "id", "text",
      params.NumHashes, params.Bands).count()
    spark.catalog.clearCache()
    Map("ops.dedup.candidate_pairs" -> cand.toDouble,
      "ops.dedup.verified_ratio" -> lastPairs.toDouble / math.max(1L, cand))
  }

  def finish(): Seq[String] = problems
}

/** `stream_dedup`: the corpus split into files and fed one file per trigger
  * through the streaming near-duplicate operator. One operation is one
  * micro-batch; a drain runs all files into fresh state, and its pair set
  * must equal the batch operator's answer for the same documents. */
final class StreamDedupWorkload(spark: SparkSession, tracer: Tracer, seed: Long,
    work: String) extends Workload {
  val name = "stream_dedup"
  private val files = 5
  private val perFile = 500
  private val compactAfter = 2
  private var corpus: Corpus = _
  private var drains = 0
  /** Per drain: its pair set, its batch count and whether op() already
    * counted its batches as failed. */
  private val drained = mutable.ArrayBuffer[(Set[(Long, Long)], Int, Boolean)]()
  private var problems = Vector.empty[String]
  private var lastState: String = _
  private val params = DedupParams

  /** Write `c` as `n` parquet files named batch-NNN.parquet under `dir`. */
  private def split(c: Corpus, dir: String, n: Int): Unit = {
    import spark.implicits._
    val per = (c.docs + n - 1) / n
    val tmp = s"$dir/_split"
    c.rows.zipWithIndex.map { case ((id, text), i) => (id, text, i / per) }
      .toDF("id", "text", "file").coalesce(1).write.partitionBy("file").parquet(tmp)
    (0 until n).foreach { f =>
      val part = new File(s"$tmp/file=$f").listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(f"$dir/batch-$f%03d.parquet")
      require(part.renameTo(dst))
      // The file source takes files in modification-time order.
      dst.setLastModified(1700000000000L + f * 1000L)
    }
    Main.deleteTree(new File(tmp))
  }

  def setup(): Unit = {
    corpus = new Corpus(seed, files * perFile)
    split(corpus, s"$work/stream", files)
    val warm = new Corpus(seed + 1, perFile * 3)
    split(warm, s"$work/warm", 3)
    val t0 = System.nanoTime()
    drain(s"$work/warm")
    Main.note(f"warm-up drain: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  private def drain(dir: String): (Seq[(Long, Long, Double)], Seq[Tracer.Progress]) = {
    drains += 1
    val state = s"$work/state$drains"
    tracer.clearProgress()
    val pairs = tracer.span("stream.drain") {
      Dedup.streamingMinHashNearDuplicates(spark, dir, "*.parquet", "id", "text",
        s"$state/store", s"$state/checkpoint", params.Threshold, params.NumHashes,
        params.Bands, maxFilesPerTrigger = 1, compactAfterFiles = compactAfter)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    tracer.drain()
    if (lastState != null) Main.deleteTree(new File(lastState))
    lastState = state
    (pairs, tracer.progressSnapshot.filter(_.rows > 0))
  }

  def op(i: Int): OpResult = {
    val (pairs, progress) = drain(s"$work/stream")
    val p = DedupCheck.pairs(corpus, pairs)
    problems ++= p.take(5)
    drained += ((pairs.map(x => (x._1, x._2)).toSet, progress.size, p.nonEmpty))
    if (tracer.enabled) tracedBatches ++= progress
    OpResult(progress.map(_.triggerS), corpus.docs, if (p.isEmpty) 0 else progress.size,
      progress.size)
  }

  private val tracedBatches = mutable.ArrayBuffer[Tracer.Progress]()
  private var batchAnswer: Set[(Long, Long)] = _

  /** Extra failures found once the batch answer is known. */
  override def lateFailures(): Int = {
    batchAnswer = Dedup.minHashNearDuplicates(spark.read.parquet(s"$work/stream"),
      "id", "text", params.Threshold, params.NumHashes, params.Bands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    drained.map { case (got, n, counted) =>
      if (got == batchAnswer) 0
      else {
        problems :+= s"drain differs from the batch answer"
        if (counted) 0 else n
      }
    }.sum
  }

  override def recall: Option[Double] = {
    val want = corpus.plantedPairs(params.Threshold, corpus.rows.map(_._1).toSet)
    drained.lastOption.map { case (got, _, _) =>
      (got intersect want).size.toDouble / math.max(1, want.size) }
  }

  override def counters(drainTotals: Seq[Tracer.Measures]): Map[String, Double] = {
    val stateFiles = Main.files(new File(lastState, "store"))
    val bytes = stateFiles.map(_.length).sum
    val inputBytes = Main.files(new File(s"$work/stream")).map(_.length).sum
    val cand = Dedup.minHashCandidatePairs(spark.read.parquet(s"$work/stream"), "id", "text",
      params.NumHashes, params.Bands).count()
    spark.catalog.clearCache()
    def med(f: Tracer.Progress => Double) = Main.median(tracedBatches.map(f).toSeq)
    Map("stream.batch.trigger_s" -> med(_.triggerS),
      "stream.batch.add_batch_s" -> med(_.addBatchS),
      "stream.batch.planning_s" -> med(_.planningS),
      "stream.batch.wal_commit_s" -> med(_.walCommitS),
      "stream.batch.jobs" -> med(p =>
        tracer.jobsBetween(p.startMs, p.startMs + p.triggerS * 1000).toDouble),
      "state.files" -> stateFiles.size.toDouble,
      "state.bytes_per_doc" -> bytes.toDouble / corpus.docs,
      "state.write_amp" -> Main.median(drainTotals.map(_.outputBytes.toDouble)) / inputBytes,
      "ops.dedup.candidate_pairs" -> cand.toDouble,
      "ops.dedup.verified_ratio" -> batchAnswer.size.toDouble / math.max(1L, cand))
  }

  def finish(): Seq[String] = problems
}
