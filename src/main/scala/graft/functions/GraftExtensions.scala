package graft.functions

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The one install of the graft SQL functions and of the grouped top-k
  * planner strategy. Listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark service-loads it into every session built on the classpath —
  * [[graft.Session]]'s and any other — and sessions forked with
  * `newSession()` share it. No call site registers a function or mutates
  * its session's planner or optimizer.
  *
  * [[graft.plans.TopKPerKeyStrategy]] plans only the
  * [[graft.plans.TopKPerKey]] logical node, which nothing but
  * [[graft.plans.TopKPerKey.topKPerKey]] builds; for every other plan it
  * returns no candidate, so injecting it changes no plan that lacks that
  * node, and a key's plan does not depend on which keys ran before it.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}

object GraftExtensions {
  import NativeExpressions._

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression)
      : SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn("float_dot", classOf[FloatVectorDot])(e => FloatVectorDot(e(0), e(1))),
    fn("l2_sq", classOf[FloatDoubleL2Sq])(e => FloatDoubleL2Sq(e(0), e(1))),
    fn("l2_argmin_idx", classOf[L2ArgminIdx])(e => L2ArgminIdx(e(0), e(1))),
    fn("hamming", classOf[HammingDistance])(e => HammingDistance(e(0), e(1))),
    fn("first_chunk_within", classOf[FirstChunkWithin])(e =>
      FirstChunkWithin(e(0), e(1), e(2), e(3))),
    fn("winnow_minima", classOf[WinnowMinima])(e => WinnowMinima(e(0), e(1), e(2), e(3))),
    fn("hilbert_pos", classOf[HilbertPos])(e => HilbertPos(e(0), e(1), e(2))),
    fn("md5_h1h2", classOf[Md5H1H2])(e => Md5H1H2(e(0))),
    fn("sorted_pairs", classOf[SortedPairs])(e => SortedPairs(e(0))),
    fn("deletion_variants", classOf[DeletionVariants])(e => DeletionVariants(e(0))),
    fn("edit_within_1", classOf[EditWithin1])(e => EditWithin1(e(0), e(1))),
    fn("simhash64", classOf[Simhash64])(e =>
      Simhash64(e(0), if (e.length > 1) e(1) else Literal(64))),
    fn("bitmap_distinct", classOf[NativeAggregates.BitmapDistinctCount])(e =>
      NativeAggregates.BitmapDistinctCount(e(0), e(1)).toAggregateExpression()),
    // Spark's internal runtime-filter bloom expressions (Decontaminate): the
    // analyzer wraps the aggregate in an AggregateExpression on resolution
    fn("graft_bloom_build", classOf[BloomFilterAggregate])(e =>
      new BloomFilterAggregate(e(0), e(1))),
    fn("graft_bloom_might_contain", classOf[BloomFilterMightContain])(e =>
      BloomFilterMightContain(e(0), e(1))))
}
