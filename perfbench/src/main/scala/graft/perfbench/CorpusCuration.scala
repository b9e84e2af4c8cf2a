package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.llm.{AnnIndex, Dedup, TextAnalysis}

final case class CorpusDoc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class CorpusVec(vec_id: Long, embedding: Array[Float], label: Int)

/** The seeded corpus: base documents, planted exact copies and planted
  * near-duplicates (seeded token edits of a base). Every document is a pure
  * function of (seed, doc_id), so the executors that write the parquet and
  * the driver that holds the expected outputs agree without shipping data. */
final case class Corpus(seed: Long, docs: Int, vecs: Int) {
  import Corpus._

  /** (role, base): role 0 = base (base = itself), 1 = exact copy,
    * 2 = near-duplicate. A copy's base is a base document. */
  def role(i: Long): (Int, Long) = {
    val r = Gen.below(1000, seed, 11, i)
    if (r >= ExactPerMille + NearPerMille) (0, i)
    else {
      val b = Gen.below(docs, seed, 12, i)
      if (b == i || Gen.below(1000, seed, 11, b) < ExactPerMille + NearPerMille) (0, i)
      else (if (r < ExactPerMille) 1 else 2, b)
    }
  }

  private def baseWords(b: Long): Array[String] = {
    val n = MinWords + Gen.below(MaxWords - MinWords, seed, 13, b).toInt
    Array.tabulate(n)(j => word(Gen.below(Vocab, seed, 14, b, j)))
  }

  def text(i: Long): String = role(i) match {
    case (0, _) => baseWords(i).mkString(" ")
    case (1, b) => baseWords(b).mkString(" ")
    case (_, b) =>
      val w = baseWords(b)
      var edited = false
      val out = w.indices.flatMap { j =>
        val r = Gen.below(1000, seed, 15, i, j)
        if (r < EditPerMille) { edited = true; Seq(word(Gen.below(Vocab, seed, 16, i, j))) }
        else if (r < EditPerMille + DropPerMille) { edited = true; Nil }
        else Seq(w(j))
      }.toArray
      // an edit that changed nothing would plant an exact copy instead
      if (!edited || out.sameElements(w)) out(out.length / 2) = "edit" + i
      out.mkString(" ")
  }

  def doc(i: Long): CorpusDoc = {
    val t = text(i)
    CorpusDoc(i, t, Langs(Gen.below(Langs.size, seed, 17, i).toInt),
      "src" + Gen.below(20, seed, 18, i), t.length.toLong)
  }

  def vec(i: Long): CorpusVec = {
    val label = Gen.below(Labels, seed, 19, i).toInt
    CorpusVec(i, Array.tabulate(Dim) { d =>
      val c = Gen.unit(seed, 20, label, d) * 2 - 1
      (c + 0.6 * (Gen.unit(seed, 21, i, d) - 0.5)).toFloat
    }, label)
  }
}

object Corpus {
  val ExactPerMille = 50
  val NearPerMille = 100
  val EditPerMille = 12
  val DropPerMille = 4
  val MinWords = 40
  val MaxWords = 120
  val Vocab = 4000L
  val Dim = 64
  val Labels = 16
  val Langs = Vector("en", "de", "fr", "es", "zh")
  private val syll = Vector("ka", "lo", "mi", "ne", "ru", "ta", "be", "so", "di", "fa",
    "gu", "ho", "ji", "ke", "pa", "ri", "tu", "vo", "we", "za")
  /** Word k of the vocabulary: a distinct syllable string per k. */
  def word(k: Long): String = {
    val sb = new StringBuilder
    var x = k
    do { sb ++= syll((x % syll.size).toInt); x /= syll.size } while (x > 0)
    sb.toString
  }
}

/** `corpus_curation`: one LLM-data curation pass over a seeded corpus —
  * exact dedup, MinHash/LSH candidates, connected components, text and
  * quality statistics, Bloom decontamination, IVF-PQ build and top-K.
  * Executor- and shuffle-bound inside `graft.llm` and the native kernels;
  * the table log and `graft.sources` stay idle. */
final class CorpusCuration extends Workload {
  import CorpusCuration._

  private var spark: SparkSession = _
  private var dir: String = _
  private var sf: String = _
  private var c: Corpus = _
  private var distinct = 0L
  private var copyOf: Map[Long, (Int, Long)] = Map.empty
  private var userBytes = 0L

  def setup(s: SparkSession, d: String, seed: Long, led: Ledger): Unit = {
    spark = s; dir = d; sf = s"$d/input"
    c = Corpus(seed, Docs, Vecs)
    val sp = spark; import sp.implicits._
    val cc = c
    val parts = spark.sparkContext.defaultParallelism
    spark.range(0, Docs, 1, parts).map(i => cc.doc(i)).write.parquet(s"$sf/documents.parquet")
    spark.range(0, Vecs, 1, parts).map(i => cc.vec(i)).write.parquet(s"$sf/embeddings.parquet")
    // expected outputs, from the generator alone
    val texts = (0L until Docs).map(c.text)
    distinct = texts.distinct.size.toLong
    copyOf = (0L until Docs).map(i => i -> c.role(i)).filter(_._2._1 != 0).toMap
    userBytes = texts.map(_.getBytes("UTF-8").length.toLong + 16).sum + Vecs.toLong * (Corpus.Dim * 4 + 12)

  }

  def outputRoots: Seq[(String, String)] = Seq("index" -> s"$dir/ann", "ckpt" -> s"$dir/ckpt")

  def inputs: Seq[(String, Long)] =
    Seq("docs" -> Docs.toLong, "distinct_docs" -> distinct, "vectors" -> Vecs.toLong,
      "planted_exact" -> copyOf.count(_._2._1 == 1).toLong,
      "planted_near" -> copyOf.count(_._2._1 == 2).toLong)

  private def root(i: Long): Long = copyOf.get(i).map(_._2).getOrElse(i)

  def pass(i: Int, led: Ledger): PassOut = {
    val sp = spark; import sp.implicits._
    // every pass rebuilds the IVF index (centroids and inverted lists) in
    // the setup's index directory and serves top-K from it
    spark.conf.set("spark.graft.checkpointDir", s"$dir/ckpt/pass$i")

    val survivors = led.call("llm.dedup.exact")(Dedup.l1ExactDedupXx(spark, sf).count())
    led.check("exact_dedup_survivors")((survivors == distinct, s"$survivors survivors, expected $distinct"))

    val pairs = led.call("llm.dedup.lsh") {
      Dedup.lshCandidatePairs(Tables.documents(spark, sf), Dedup.DEFAULT_MINHASHES, Dedup.DEFAULT_BANDS)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    }
    val cand = pairs.toSet
    val near = copyOf.collect { case (d, (2, b)) => (math.min(d, b), math.max(d, b)) }
    val recall = near.count(cand).toDouble / math.max(1, near.size)
    System.err.println(f"pass $i: planted near-duplicate recall $recall%.4f")
    led.check("near_dup_recall")((recall >= MinNearDupRecall,
      f"planted near-duplicate recall $recall%.4f < $MinNearDupRecall"))
    val useful = pairs.count { case (a, b) => root(a) == root(b) }

    val comp = led.call("llm.dedup.components") {
      Dedup.l2eConnectedComponents(spark, sf).as[(Long, Long)].collect().toMap
    }
    val split = copyOf.collect { case (d, (1, b)) if comp.get(d) != comp.get(b) => d }
    led.check("exact_copies_share_component")((split.isEmpty,
      s"${split.size} exact copies outside their base's component, e.g. ${split.take(3)}"))

    led.call("llm.text.stats")(Fs.drain(TextAnalysis.l4TextStats(spark, sf)))
    led.call("llm.text.quality")(Fs.drain(TextAnalysis.l4cQualityScore(spark, sf)))

    val flagged = led.call("llm.dedup.decontam") {
      Dedup.l27BloomDecontam(spark, sf).select($"doc_id").as[Long].collect().toSet
    }
    // doc_id < 50 is the benchmark set l27 screens against
    val leaked = copyOf.collect { case (d, (_, b)) if b < 50 && d >= 50 && !flagged(d) => d }
    led.check("decontam_flags_planted_copies")((leaked.isEmpty,
      s"${leaked.size} copies of benchmark docs not flagged, e.g. ${leaked.take(3)}"))

    led.call("llm.ann.build")(AnnIndex.buildIvf(spark, sf))
    val top = led.call("llm.ann.topk")(AnnIndex.l3fServe(spark, sf).collect())
    led.check("ann_topk")((top.length == 10, s"${top.length} neighbours, expected 10"))

    PassOut(Docs.toLong, userBytes, counters = Map(
      "llm.lsh_candidates" -> pairs.length.toDouble, "llm.lsh_useful" -> useful.toDouble))
  }
}

object CorpusCuration {
  val Docs = 3000
  val Vecs = 3000
  /** Floor on planted near-duplicate recall among the LSH candidates (16
    * hashes in 4 bands). The tree that introduced the benchmark reaches
    * 0.87-0.90 across seeds; a candidate-generation change that loses
    * near-duplicates fails the run. */
  val MinNearDupRecall = 0.8
}
