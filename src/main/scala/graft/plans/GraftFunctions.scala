package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Every native SQL function graft ships, listed once. Two install paths
  * read this list and nothing else: [[ensure]] on a live session, and
  * [[GraftExtensions]] at session build (`spark.sql.extensions`). */
object GraftFunctions {

  private def fn(name: String, cls: Class[_], builder: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("dot_f32", classOf[DotF32], DotF32.builder),
    fn("dot_i64", classOf[DotI64], DotI64.builder),
    fn("md5_prefix48", classOf[Md5Prefix48], Md5Prefix48.builder),
    fn("shingle_hashes", classOf[ShingleHashes], ShingleHashes.builder),
    fn("minhash_sigs", classOf[MinHashSigs], MinHashSigs.builder),
    fn("simhash_sig", classOf[SimHashSig], SimHashSig.builder),
    fn("rademacher_sigs", classOf[RademacherSigs], RademacherSigs.builder),
    fn("rolling_fp", classOf[RollingFp], RollingFp.builder),
    fn("winnow_hashes", classOf[WinnowHashes], WinnowHashes.builder),
    fn("model_score", classOf[ModelScore], ModelScore.builder),
    fn("bucket_score", classOf[BucketScore], BucketScore.builder),
    fn("pq_encode", classOf[PqEncode], PqEncode.builder),
    fn("word_count_agg", classOf[WordCountAgg], WordCountAgg.builder),
    fn("graft_bloom_agg", classOf[BloomFilterAggregate], BloomFunctions.aggBuilder),
    fn("graft_might_contain", classOf[BloomFilterMightContain], BloomFunctions.probeBuilder),
    fn("json_long", classOf[JsonGetLong], JsonGetLong.builder),
    fn("sum128", classOf[Sum128], Sum128.builder))

  /** Register the functions `spark` lacks (check-then-register, the
    * Pathling `SqlStrategy.setup` shape). A name already present — from an
    * earlier call or from the extension — is left alone, so repeat calls
    * replace nothing and log nothing; each costs one registry lookup per
    * name. Call it once at every entry point that builds SQL over these
    * names. The lock keeps two threads on one session from both seeing a
    * name missing. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      all.foreach { case (id, info, builder) =>
        if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
      }
    }
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` installs the native
  * functions at session build time — the deployment-config path. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}
