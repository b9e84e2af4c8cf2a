package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Embedding-space corpus clustering and cluster-driven curation — the
  * semantic-organization layer of a training-data pipeline (SemDeDup,
  * Abbas et al. 2023; D4, Tirumala et al. 2023; SSL prototypes,
  * Sorscher et al. 2022 "Beyond neural scaling laws"): k-means the
  * document embeddings, profile each cluster against the document
  * metadata, and prune the most-prototypical fraction per cluster (the
  * semantically redundant core that scaling-law work shows contributes
  * least per token).
  *
  * No counterpart in the reference (its `src/` stops at relational ETL);
  * mandated-extension family. All arithmetic follows the l3l integer
  * fixed-point discipline — micro-quantized BIGINT vectors, exact
  * squared distances, truncating centroid means, ties to the lowest
  * cluster id — so training, assignment, distances, and the pruning cut
  * are all bit-identical on any engine/cluster and the DuckDB oracle
  * replays the whole pipeline (Lloyd unrolled as CTEs, the l21 idiom).
  *
  * Plan shape at 100 TB: training is [[KM_ITERS]] passes of (compiled
  * argmin → posexplode → partial-agg rollup) with the codebook as
  * O(K·dim) driver state (the sanctioned fixpoint pattern); final
  * assignment + distance is ONE corpus pass of pure projections — the
  * native `pq_encode` argmin plus the ||q−c||² = q·q − 2·q·c + c·c
  * expansion over the native `dot_i64`, zero exchanges, no per-vector
  * join, no interpreted lambda on the corpus path. Production K is
  * 10k–100k (√N-ish); that scales the broadcast codebook, never the
  * pass count.
  */
object Clustering {

  /** Clusters. Oracle-tractable here (the l3l unrolled-CTE budget);
    * production raises K to 10k–100k, changing only codebook size. */
  val KM_K = 8

  /** Lloyd iterations (the PQ_ITERS unroll-budget argument: enough to
    * exercise assign→update→re-assign, small enough to replay as CTEs;
    * production trains to movement < ε on a sample). */
  val KM_ITERS = 2

  /** Embedding width of the fixture corpus (the oracle's subspace
    * width; the Spark side derives it from the data). */
  val KM_DIM = 64

  /** Fraction of each cluster pruned as most-prototypical by [[l30ClusterPrune]]
    * (D4 drops the cluster cores; 0.25 = 2^-2 is exact in binary, so the
    * `ceil(frac · n)` cut point is engine-stable). */
  val KM_PRUNE_FRAC = 0.25

  import Similarity.{qvec, codebookDf}

  /** Fitted-codebook memo — the AnnIndex.ensure idiom at driver-state
    * scale. The Lloyd fit is DERIVED, deterministic state (integer
    * arithmetic on a fingerprinted source), so it is built once per
    * (source, variant) and reused: an in-JVM memo for the session plus a
    * fingerprint-stamped text artifact under the index dir so a later
    * session skips the fit entirely. Before this memo every consumer
    * (l29/l29b/l30/l30b/l31 and r14's frozen-codebook stream) re-derived
    * the same 2-pass training per query — BENCHNOTES r11 priced that at
    * 2.8–2.9× DuckDB on the profile/prune family, pure re-derivation
    * waste (the l13b checkpoint lesson applied to driver-side state). A
    * regenerated fixture invalidates by fingerprint, a crashed write
    * cannot surface (temp-file + ATOMIC_MOVE publish, and a torn file
    * that somehow lands anyway fails the record-count trailer check),
    * and the stored codebook is the bit-exact fit (longs in text), so no
    * consumer can drift. */
  private val kmMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Int, Int, Long)]]()

  private[graft] def ensureCodebook(spark: SparkSession, sfDir: String,
      variant: String)(fit: => Seq[(Int, Int, Int, Long)]): Seq[(Int, Int, Int, Long)] = {
    val fp = AnnIndex.sourceFingerprint(sfDir)
    kmMemo.computeIfAbsent(s"$sfDir|$variant|$fp", _ => {
      val path = java.nio.file.Paths.get(
        s"${AnnIndex.indexDir(spark, sfDir)}/km_codebook_$variant.tsv")
      // load-time validity = fp header AND the record-count trailer: the
      // header is written first, so on its own it would bless a torn
      // write (fewer centroids — or a final long cut mid-digits that
      // still parses — replaying silently into every l29–l31/r14
      // consumer). The trailer is written LAST and must agree with the
      // row count; any mismatch or parse failure falls back to a refit.
      val onDisk =
        if (java.nio.file.Files.isRegularFile(path)) {
          import scala.jdk.CollectionConverters._
          val lines = java.nio.file.Files.readAllLines(path).asScala.toSeq
          val body = lines.drop(1).dropRight(1)
          val complete = lines.headOption.contains(s"# fp=$fp") &&
            lines.lastOption.contains(s"# n=${lines.length - 2}")
          if (complete)
            scala.util.Try(body.map { l =>
              val Array(m, c, d, v) = l.split("\t")
              (m.toInt, c.toInt, d.toInt, v.toLong)
            }).toOption
          else None
        } else None
      onDisk.getOrElse {
        val cent = fit
        java.nio.file.Files.createDirectories(path.getParent)
        import scala.jdk.CollectionConverters._
        // stage to a temp sibling and ATOMIC_MOVE into place: a crash
        // mid-write leaves only the temp file, never a half codebook at
        // the validated path (same guarantee the table log's manifest
        // publish rides)
        val tmp = java.nio.file.Files.createTempFile(
          path.getParent, s"km_codebook_$variant", ".tmp")
        java.nio.file.Files.write(tmp,
          (s"# fp=$fp" +:
            cent.map { case (m, c, d, v) => s"$m\t$c\t$d\t$v" } :+
            s"# n=${cent.length}").asJava)
        java.nio.file.Files.move(tmp, path,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        cent
      }
    })
  }

  /** Test hook: drop the in-JVM memo (disk artifacts stay and re-validate
    * by fingerprint). */
  private[graft] def clearCodebookMemo(): Unit = kmMemo.clear()

  /** Full-width integer Lloyd over the corpus embeddings — the pqTrain
    * conventions verbatim (init = vectors `vec_id < K`, exact BIGINT
    * distances via the compiled `pq_encode` argmin at M=1, update =
    * trunc(double(sum)/count) per dimension, empty clusters keep their
    * previous centroid), emitted as (m=0, c, d, cent) so the PQ codebook
    * plumbing ([[Similarity.codebookDf]]) is reused as-is. Per
    * iteration: one compiled-argmin projection pass + one posexplode
    * partial-agg rollup (the ONLY exchange, K·dim-bounded after map-side
    * combine) — no per-vector join anywhere. Memoized via
    * [[ensureCodebook]]: the whole l29–l31 family shares one fit. */
  private[graft] def kmTrain(spark: SparkSession, sfDir: String): Seq[(Int, Int, Int, Long)] =
    ensureCodebook(spark, sfDir, "base")(kmTrainFrom(Tables.embeddings(spark, sfDir)))

  /** [[kmTrain]] over any `(vec_id, embedding)` frame — the training
    * corpus is the parameter (streaming.Streams fits on the historical
    * stratum and assigns the live stream against the frozen codebook). */
  private[graft] def kmTrainFrom(emb: DataFrame): Seq[(Int, Int, Int, Long)] = {
    val spark = emb.sparkSession
    graft.plans.GraftFunctions.ensure(spark)
    import spark.implicits._
    val vecs = emb.select($"vec_id", qvec.as("qv")).persist()
    try {
      var cent: Seq[(Int, Int, Int, Long)] = vecs.filter($"vec_id" < KM_K)
        .select($"vec_id", posexplode($"qv").as(Seq("d", "q")))
        .collect()
        .map(r => (0, r.getLong(0).toInt, r.getInt(1), r.getLong(2))).toSeq
      for (_ <- 1 to KM_ITERS) {
        val updated = vecs.crossJoin(broadcast(codebookDf(spark, cent)))
          .select(expr("element_at(pq_encode(qv, cb), 1)").as("c"),
            posexplode($"qv").as(Seq("d", "q")))
          .groupBy($"c", $"d")
          .agg(expr("CAST(CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / count(*) AS BIGINT)")
            .as("cent"))
          .collect()
          .map(r => (0, r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
        cent = cent.map { case (m, c, d, old) =>
          (m, c, d, updated.getOrElse((m, c, d), old))
        }
      }
      cent
    } finally { vecs.unpersist(false); () }
  }

  /** (vec_id, cluster, dist): assignment under a trained codebook plus
    * the EXACT BIGINT squared distance to the assigned centroid, as one
    * pass of pure projections — `pq_encode` picks the cluster, and the
    * distance expands as q·q − 2·q·c + c·c over the native `dot_i64`
    * (integer arithmetic, so the expansion is bit-equal to Σ(q_d−c_d)²
    * under any evaluation order): zero exchanges, no join, nothing
    * interpreted. c·c rides as a K-element plan literal. */
  private[graft] def assignWithDist(emb: DataFrame,
      cent: Seq[(Int, Int, Int, Long)]): DataFrame = {
    import emb.sparkSession.implicits._
    assignFull(emb, cent).select($"vec_id", $"cluster", $"dist")
  }

  /** The assignment pass keeping the quantized vector and its exact
    * self-dot — the frame [[l31SemDedup]]'s pair confirm runs on. */
  private[graft] def assignFull(emb: DataFrame,
      cent: Seq[(Int, Int, Int, Long)]): DataFrame = {
    val spark = emb.sparkSession
    graft.plans.GraftFunctions.ensure(spark)
    import spark.implicits._
    val k = cent.map(_._2).max + 1
    val ccs: Seq[Long] = (0 until k).map { c =>
      cent.filter(_._2 == c).map { t => t._4 * t._4 }.sum
    }
    emb.crossJoin(broadcast(codebookDf(spark, cent)))
      .select($"vec_id", qvec.as("qv"), $"cb")
      .withColumn("cluster", expr("element_at(pq_encode(qv, cb), 1)"))
      .withColumn("centv", expr("element_at(element_at(cb, 1), cluster + 1)"))
      .select($"vec_id", $"qv", expr("dot_i64(qv, qv)").as("qq"), $"cluster",
        (expr("dot_i64(qv, qv) - CAST(2 AS BIGINT) * dot_i64(qv, centv)")
          + element_at(typedLit(ccs), $"cluster" + 1)).as("dist"))
  }

  /** L29 [EXT]: k-means document clustering — the full trained
    * assignment (vec_id, cluster, dist) so the ORACLE checks the
    * training itself (Lloyd unrolled as CTEs) plus the exact distance of
    * every vector to its centroid, not just a downstream consumer. */
  def l29KmeansCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    assignWithDist(Tables.embeddings(spark, sfDir), kmTrain(spark, sfDir))
      .orderBy($"vec_id")
  }

  /** L29b [EXT]: cluster profile — the curation dashboard row per
    * cluster: size, language spread, char mass, and total quantization
    * distortion (the k-means objective, exact integer). One co-keyed
    * 8-byte join (vec_id = doc_id; bucketing applies at 100 TB) with the
    * document side pruned to three columns, then a K-bounded rollup. */
  def l29bClusterProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val assign = assignWithDist(Tables.embeddings(spark, sfDir), kmTrain(spark, sfDir))
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"lang", $"n_chars")
    assign.join(docs, assign("vec_id") === docs("doc_id"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        sum($"n_chars").cast("long").as("sum_chars"),
        sum($"dist").cast("long").as("sum_dist"))
      .orderBy($"cluster")
  }

  /** L30 [EXT]: prototype-based cluster pruning (D4 / SSL-prototypes):
    * within each cluster rank by distance-to-centroid ascending (most
    * prototypical first, ties to the lowest vec_id) and drop the first
    * ceil([[KM_PRUNE_FRAC]] · n) — the semantically redundant core —
    * keeping the informative remainder with its rank as provenance.
    * One exchange keyed by cluster for the two same-partition window
    * functions. At the demonstration K=8 the window partitions are
    * coarse; production K (10k–100k) makes them ~N/K-sized and balanced
    * — same plan, and the cut is then also computable as a broadcast
    * per-cluster distance threshold if a cluster ever outgrows a
    * partition. */
  def l30ClusterPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byCluster = Window.partitionBy($"cluster")
    assignWithDist(Tables.embeddings(spark, sfDir), kmTrain(spark, sfDir))
      .withColumn("rk", row_number().over(byCluster.orderBy($"dist".asc, $"vec_id".asc)))
      .withColumn("cnt", count(lit(1)).over(byCluster))
      .filter($"rk".cast("long") > ceil(lit(KM_PRUNE_FRAC) * $"cnt").cast("long"))
      .select($"vec_id", $"cluster", $"dist", $"rk")
      .orderBy($"vec_id")
  }

  /** Docs kept per cluster by [[l30bBalancedSample]]. */
  val KM_SAMPLE_PER_CLUSTER = 32

  /** L30b [EXT]: cluster-balanced sampling — up to
    * [[KM_SAMPLE_PER_CLUSTER]] docs per cluster, chosen by a
    * deterministic md5-derived key (the l28 Gumbel idiom without the
    * weight term = a uniform draw), so the sample covers every semantic
    * region instead of mirroring the corpus' cluster-size skew — the
    * diversity-balanced eval/seed-set draw of cluster-curation pipelines
    * (D4 §3 samples per-cluster, not globally). Engine-portable and
    * replayable: the key is a 20-bit md5 hex fold of the doc id, ranks
    * break ties on vec_id, and the per-cluster cut is a plain rank
    * threshold — one cluster-keyed window exchange, same scale posture
    * as [[l30ClusterPrune]]. */
  def l30bBalancedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val key = expr(
      "CAST(conv(substr(md5(concat('s#', CAST(vec_id AS STRING))), 1, 5), 16, 10) AS BIGINT)")
    assignWithDist(Tables.embeddings(spark, sfDir), kmTrain(spark, sfDir))
      .withColumn("smp_key", key)
      .withColumn("smp_rk", row_number().over(
        Window.partitionBy($"cluster").orderBy($"smp_key".asc, $"vec_id".asc)))
      .filter($"smp_rk" <= KM_SAMPLE_PER_CLUSTER)
      .select($"vec_id", $"cluster", $"smp_rk")
      .orderBy($"vec_id")
  }

  /** Cosine threshold for [[l31SemDedup]] (matches l3h's regime on the
    * near-isotropic fixture so the screen is non-vacuous). */
  val SEMDEDUP_TAU = 0.3

  /** L31 [EXT]: SemDeDup proper (Abbas et al. 2023 §3) — semantic
    * near-dup pruning with the paper's OWN candidate structure: pairwise
    * exact cosine WITHIN each k-means cluster (l3h is the LSH-bucketed
    * sibling; here the cluster is the bucket, which is what makes the
    * all-pairs screen tractable — O(Σ n_c²) ≈ N²/K, bounded by
    * production K = 10k–100k). A doc is dropped when a LESS prototypical
    * keep-candidate is semantically equal: ∃ y in the same cluster with
    * cos(x,y) ≥ τ and y FARTHER from the centroid (the paper keeps the
    * LOWEST-centroid-similarity member of each duplicate group; ties to
    * the lowest vec_id).
    *
    * Exactness: the dot products are the native `dot_i64` over the
    * micro-quantized BIGINT vectors — exact integers < 2^53, so their
    * DOUBLE images are identical on any engine under any order — and the
    * threshold compare is the single canonical expression
    * `dot ≥ τ·sqrt(qq_x)·sqrt(qq_y)` (same literal, same association)
    * on both sides, so the decision replays bit-identically in DuckDB.
    * Plan: one cluster-keyed self-join (pair volume cluster-bounded,
    * never corpus-quadratic) feeding a LEFT SEMI existence probe, then
    * one vec_id-keyed flag join — the vectors ride only the pair join,
    * never a corpus-wide exchange beyond their cluster. */
  def l31SemDedup(spark: SparkSession, sfDir: String): DataFrame =
    semDedupFrom(assignFull(Tables.embeddings(spark, sfDir), kmTrain(spark, sfDir)))

  /** The SemDeDup drop rule over any [[assignFull]]-shaped frame —
    * the pair generator (which clustering fed it) is the parameter,
    * mirroring [[Similarity.neardupKeepList]]'s factoring. */
  private[graft] def semDedupFrom(a: DataFrame): DataFrame = {
    import a.sparkSession.implicits._
    val x = a.select($"vec_id", $"cluster", $"dist", $"qv", $"qq")
    val y = a.select($"vec_id".as("y_id"), $"cluster".as("y_cluster"),
      $"dist".as("y_dist"), $"qv".as("y_qv"), $"qq".as("y_qq"))
    val dropped = x.join(y,
        $"cluster" === $"y_cluster" &&
          ($"y_dist" > $"dist" || ($"y_dist" === $"dist" && $"y_id" < $"vec_id")) &&
          expr("CAST(dot_i64(qv, y_qv) AS DOUBLE)") >=
            lit(SEMDEDUP_TAU) * sqrt($"qq".cast("double")) * sqrt($"y_qq".cast("double")),
        "left_semi")
      .select($"vec_id", lit(true).as("isdrop"))
    a.select($"vec_id", $"cluster", $"dist")
      .join(dropped, Seq("vec_id"), "left_outer")
      .select($"vec_id", $"cluster", $"dist", $"isdrop".isNull.as("keep"))
      .orderBy($"vec_id")
  }

  /** Target cluster population for [[l31Sized]]: K = N/this — the
    * SemDeDup paper's tractability knob (50k clusters for LAION): pair
    * volume per cluster stays ~this², independent of corpus size. */
  val KM_TARGET_CLUSTER = 512L

  /** Lloyd at width `k` on a deterministic hash-sample — the
    * [[Similarity.pqTrainSized]] conventions at M=1 full width: init =
    * the first k sample vectors, assignment via the compiled encode,
    * trunc(sum/count) update, empty clusters keep their previous
    * centroid. The codebook is O(K·dim) driver state (~0.5 MB at
    * K=1024); per iteration one compiled-argmin pass + one posexplode
    * rollup over the SAMPLE only. */
  private[graft] def kmTrainSized(spark: SparkSession, sfDir: String, k: Int,
      sampleVecs: Long = Similarity.PQ_TRAIN_VECS): Seq[(Int, Int, Int, Long)] =
    ensureCodebook(spark, sfDir, s"sized_k${k}_s$sampleVecs")(
      kmTrainSizedUncached(spark, sfDir, k, sampleVecs))

  private def kmTrainSizedUncached(spark: SparkSession, sfDir: String, k: Int,
      sampleVecs: Long): Seq[(Int, Int, Int, Long)] = {
    graft.plans.GraftFunctions.ensure(spark)
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val mod = math.max(1L, n / sampleVecs)
    val sample = emb.filter(pmod(xxhash64($"vec_id"), lit(mod)) === 0)
      .select($"vec_id", qvec.as("qv")).persist()
    try {
      var cent: Seq[(Int, Int, Int, Long)] = sample.orderBy($"vec_id").limit(k)
        .select($"vec_id", posexplode($"qv").as(Seq("d", "q")))
        .withColumn("rk", dense_rank().over(
          org.apache.spark.sql.expressions.Window.orderBy($"vec_id")))
        .select(($"rk" - 1).cast("int").as("c"), $"d", $"q")
        .collect().map(r => (0, r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
      for (_ <- 1 to KM_ITERS) {
        val updated = sample.crossJoin(broadcast(codebookDf(spark, cent)))
          .select(expr("element_at(pq_encode(qv, cb), 1)").as("c"),
            posexplode($"qv").as(Seq("d", "q")))
          .groupBy($"c", $"d")
          .agg(expr("CAST(CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / count(*) AS BIGINT)")
            .as("cent"))
          .collect()
          .map(r => (0, r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
        cent = cent.map { case (m, c, d, old) =>
          (m, c, d, updated.getOrElse((m, c, d), old))
        }
      }
      cent
    } finally { sample.unpersist(false); () }
  }

  /** L31 at the production cluster count (BenchHeavy's `l31_sized`):
    * K = max(8, N/[[KM_TARGET_CLUSTER]]) clusters from a sampled Lloyd
    * fit, then the same drop rule. The knob is THE SemDeDup scale lever:
    * within-cluster pair volume is Σ n_c² ≈ N·[[KM_TARGET_CLUSTER]],
    * LINEAR in the corpus at fixed target population — vs the
    * demonstration K=8's corpus-quadratic N²/8. Parameterization of
    * l31's oracle-checked semantics (the l3e_sized precedent). */
  def l31Sized(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val k = math.max(KM_K, (n / KM_TARGET_CLUSTER).toInt)
    semDedupFrom(assignFull(emb, kmTrainSized(spark, sfDir, k)))
  }
}
