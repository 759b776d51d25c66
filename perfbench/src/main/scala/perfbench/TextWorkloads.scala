package perfbench

import scala.util.Random

import graft.llm.{Dedup, TextAnalysis}
import graft.streaming.LexIngest
import org.apache.spark.sql.{Row, SparkSession}

/** Micro-batch ingest into a lexical store with a read-your-writes probe
  * after each batch, then forget, compact, vacuum and a second probe
  * round on the compacted store. A fresh store per pass. */
final class StoreLifecycle(docs: Int, batches: Int, probesAfter: Int, k: Int) extends Part {

  private var batchDocs: IndexedSeq[Seq[(Long, String)]] = IndexedSeq.empty
  private var batchTerms: IndexedSeq[Seq[String]] = IndexedSeq.empty
  private var finalTerms: IndexedSeq[Seq[String]] = IndexedSeq.empty
  private var deleted: Seq[Long] = Nil
  private var textBytes = 0L
  // expected top-k rows of the probes after the checked batches and of
  // every probe after compaction, from one-shot indexes
  private var expectedAfter: Map[Int, Seq[Row]] = Map.empty
  private var expectedFinal: IndexedSeq[Seq[Row]] = IndexedSeq.empty

  private def batchPath(dir: String, b: Int) = Inputs.path(dir, "batches", s"batch-$b")
  /** Batches after which a probe is compared with a one-shot index. */
  private def checked(b: Int) = b % 3 == 2 || b == batches - 1

  private def terms(rng: Random): Seq[String] =
    Seq.fill(2 + rng.nextInt(2))(Inputs.Vocab(rng.nextInt(Inputs.Vocab.size))).distinct

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    val rng = new Random(seed)
    val all = (0 until docs).map(i => (i.toLong, Inputs.document(rng)))
    val order = rng.shuffle(all.indices.toVector)
    batchDocs = order.grouped(math.ceil(docs.toDouble / batches).toInt).map(_.map(all)).toIndexedSeq
    batchDocs.zipWithIndex.foreach { case (d, b) => Inputs.writeDocs(batchPath(dir, b), d, 1) }
    batchTerms = batchDocs.indices.map(_ => terms(rng))
    finalTerms = (0 until probesAfter).map(_ => terms(rng))
    deleted = rng.shuffle(all.map(_._1)).take(docs / 20).sorted
    textBytes = all.map(_._2.getBytes("UTF-8").length.toLong).sum
  }

  def prepare(spark: SparkSession, dir: String): Unit = {
    def oneShot(d: Seq[(Long, String)], tag: String, queries: Seq[Seq[String]]): Seq[Seq[Row]] = {
      import spark.implicits._
      val path = Inputs.path(dir, "oneshot", tag).toString
      TextAnalysis.writeLexIndex(d.toDF("doc_id", "text"), path)
      queries.map { q =>
        val r = TextAnalysis.bm25Probe(spark, path, q, k)
        try r.collect().toSeq finally r.unpersist()
      }
    }
    expectedAfter = batchDocs.indices.filter(checked).map { b =>
      b -> oneShot(batchDocs.take(b + 1).flatten, s"after-$b", Seq(batchTerms(b))).head
    }.toMap
    val dead = deleted.toSet
    expectedFinal = oneShot(batchDocs.flatten.filterNot(d => dead(d._1)), "final", finalTerms).toIndexedSeq
  }

  def pass(p: Pass): Unit = {
    val spark = p.spark
    val store = Inputs.path(p.dir, "store").toString
    Inputs.deleteTree(Inputs.path(store))
    def probe(q: Seq[String]): Seq[Row] = p.timedSample("streaming.LexIngest.probe", "probe_ms") {
      val r = LexIngest.probe(spark, store, q, k)
      try p.collect(r).toSeq finally r.unpersist()
    }
    var n = 0L
    var sumdl = 0L
    for (b <- batchDocs.indices) {
      p.timedSample("streaming.LexIngest.ingestBatch", "ingest_ms") {
        LexIngest.ingestBatch(Inputs.readDocs(spark, batchPath(p.dir, b).toString), store, b.toLong)
      }
      val got = probe(batchTerms(b))
      n += batchDocs(b).size
      sumdl += batchDocs(b).map(_._2.split(" ").length.toLong).sum
      if (checked(b)) {
        p.check(s"probe after batch $b")(got == expectedAfter(b))
        p.check(s"corpus stats after batch $b")(LexIngest.corpusStats(spark, store) == ((n, sumdl)))
      } else p.check(s"probe after batch $b") {
        got.nonEmpty && got.size <= k && got.map(_.getLong(2)) == (1L to got.size) &&
          got.map(_.getDouble(1)).sliding(2).forall(s => s.size < 2 || s(0) >= s(1))
      }
    }
    val t0 = System.nanoTime()
    p.timed("streaming.LexIngest.markDeleted")(LexIngest.markDeleted(spark, store, deleted))
    p.timed("streaming.LexIngest.compact")(LexIngest.compact(spark, store))
    p.layer("vacuum.dirs_removed") = p.timed("streaming.LexIngest.vacuum")(LexIngest.vacuum(spark, store))
    p.record("compact_ms", (System.nanoTime() - t0) / 1e6)
    val (bytes, files) = Inputs.du(Inputs.path(store))
    p.layer("store.files") = files
    p.layer("store.space_amp") = bytes.toDouble / textBytes
    finalTerms.zip(expectedFinal).zipWithIndex.foreach { case ((q, want), i) =>
      val got = probe(q)
      p.check(s"probe after compaction $i")(got == want)
    }
    val dead = deleted.toSet
    val survivors = batchDocs.flatten.filterNot(d => dead(d._1))
    p.check("corpus stats after compaction") {
      LexIngest.corpusStats(spark, store) ==
        ((survivors.size.toLong, survivors.map(_._2.split(" ").length.toLong).sum))
    }
  }

  def layers(t: PassTrace, p: Pass): Map[String, Double] = {
    val ingest = t.named("streaming.LexIngest.ingestBatch")
    val probes = t.named("streaming.LexIngest.probe")
    val maintenance = t.spans.filter(s => s.name == "streaming.LexIngest.compact" ||
      s.name == "streaming.LexIngest.vacuum")
    val probeMs = p.samples("probe_ms").toSeq
    Map(
      "lex.ingest.jobs" -> Stats.median(ingest.map(t.counters(_).jobs.toDouble)),
      "lex.ingest.gap_share" -> Stats.median(ingest.map(t.gapShare)),
      "lex.ingest.bytes_written" -> Stats.median(ingest.map(t.counters(_).outputBytes.toDouble)),
      "lex.probe.jobs" -> Stats.median(probes.map(t.counters(_).jobs.toDouble)),
      "lex.probe.bytes_read" -> Stats.median(probes.map(t.counters(_).inputBytes.toDouble)),
      "lex.probe.gap_share" -> Stats.median(probes.map(t.gapShare)),
      "compaction.jobs" -> maintenance.map(t.counters(_).jobs.toDouble).sum,
      "compaction.bytes_rewritten" -> maintenance.map(t.counters(_).outputBytes.toDouble).sum,
      "store.ingest_ms_p50" -> Stats.median(p.samples("ingest_ms").toSeq),
      "store.probe_ms_p50" -> Stats.median(probeMs),
      "store.probe_ms_p75" -> Stats.percentile(probeMs, 75.0),
      "store.compact_s" -> p.samples("compact_ms").sum / 1e3)
  }
}

/** Seeded documents plus near-duplicate copies; exact Jaccard pairs and
  * MinHash-LSH pairs, each fully collected. */
final class TextDedup(docs: Int, copies: Int, editShare: Double, files: Int) extends Part {

  private var texts: Map[Long, String] = Map.empty
  private var injected: Seq[(Long, Long)] = Nil
  private var mustFind: Set[(Long, Long)] = Set.empty

  private def docsPath(dir: String) = Inputs.path(dir, "docs")

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    val rng = new Random(seed)
    val base = (0 until docs).map(i => (i.toLong, Inputs.document(rng)))
    val sample = rng.shuffle(base.indices.toVector).take(copies)
    val dups = sample.zipWithIndex.map { case (src, j) =>
      ((docs + j).toLong, Inputs.edit(base(src)._2, editShare, rng))
    }
    injected = sample.zipWithIndex.map { case (src, j) => (src.toLong, (docs + j).toLong) }
    texts = (base ++ dups).toMap
    Inputs.writeDocsParquet(spark, docsPath(dir).toString, base ++ dups, files)
  }

  def prepare(spark: SparkSession, dir: String): Unit =
    mustFind = injected.filter { case (a, b) =>
      Inputs.jaccard(Inputs.bigrams(texts(a)), Inputs.bigrams(texts(b))) >= 0.5
    }.toSet

  private def exact(a: Long, b: Long): Double = Inputs.jaccard(Inputs.bigrams(texts(a)), Inputs.bigrams(texts(b)))

  def pass(p: Pass): Unit = {
    val corpus = p.spark.read.parquet(docsPath(p.dir).toString)
    def pairs(name: String)(run: => org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      p.timed(name) {
        val df = run
        try p.collect(df).map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        finally df.unpersist()
      }
    val jac = pairs("llm.Dedup.jaccardPairs")(Dedup.jaccardPairs(corpus, 0.5, 1000))
    val mh = pairs("llm.Dedup.minhashPairs")(Dedup.minhashPairs(corpus, 0.5))
    p.check("injected pairs found")(mustFind.forall(jac.contains))
    p.check("jaccard pairs exact") {
      jac.forall { case ((a, b), j) => a < b && j >= 0.5 && j == exact(a, b) }
    }
    p.check("minhash pairs are exact pairs")(mh.forall { case (ab, j) => jac.get(ab).contains(j) })
    p.layer("dedup.jaccard.pairs") = jac.size
  }

  def layers(t: PassTrace, p: Pass): Map[String, Double] = {
    val j = t.named("llm.Dedup.jaccardPairs").head
    val m = t.named("llm.Dedup.minhashPairs").head
    val jc = t.counters(j)
    val mc = t.counters(m)
    val candidates = t.executions(j).map(_.maxJoinRows).maxOption.getOrElse(0L)
    Map(
      "dedup.jaccard.cpu_s" -> jc.cpuNs / 1e9,
      "dedup.jaccard.shuffle_bytes" -> jc.shuffleWriteBytes.toDouble,
      "dedup.jaccard.spill_bytes" -> jc.spillBytes.toDouble,
      "dedup.jaccard.yield" -> (if (candidates == 0) 0.0 else p.layer("dedup.jaccard.pairs") / candidates),
      "dedup.minhash.cpu_s" -> mc.cpuNs / 1e9,
      "dedup.minhash.shuffle_bytes" -> mc.shuffleWriteBytes.toDouble)
  }
}

/** Parts run back to back as one pass, each on its own inputs. Checks
  * and layer metrics are the union of the parts'. */
final class Sequenced(parts: Seq[Part], override val warmupPasses: Int,
                      override val passes: Int) extends Workload {

  def generate(spark: SparkSession, dir: String, seed: Long): Unit =
    parts.foreach(_.generate(spark, dir, seed))

  def prepare(spark: SparkSession, dir: String): Unit = parts.foreach(_.prepare(spark, dir))

  def pass(p: Pass): Unit = parts.foreach(_.pass(p))

  def layers(t: PassTrace, p: Pass): Map[String, Double] = parts.map(_.layers(t, p)).reduce(_ ++ _)
}
