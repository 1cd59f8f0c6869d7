package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extensions entry point: registers graft's native
  * expressions so SQL users get them without touching the Scala API.
  * A session built outside [[graft.GraftSession.local]] gets them from
  * `.withExtensions(new GraftExtensions)` on its builder, or from
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    // heap-based per-group top-k: rewrites the
    // Filter-over-row_number-Window shape and plans it without the
    // full per-group sort. Gated behind spark.graft.topk.enabled
    // (default off) because the heap state lives in task memory
    // without spill — see TopKPerGroup.EnabledKey.
    e.injectOptimizerRule(_ => TopKRewriteRule)
    e.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_], builder: Seq[Expression] => Expression)
      : SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** The FULL custom-expression surface — scalar, aggregate and media
    * tiers. Injected into every session's function registry when the
    * session is built (by [[graft.GraftSession.local]] and by this
    * extension), so the functions resolve from the session's first
    * query and in every `newSession()`/`cloneSession()` of it. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn("vec_dot", classOf[VecDotProduct], exprs => VecDotProduct(exprs(0), exprs(1))),
    fn("vec_dot_exact", classOf[VecDotDecimal], exprs => VecDotDecimal(exprs(0), exprs(1))),
    fn("image_meta", classOf[ImageMeta], exprs => ImageMeta(exprs(0))),
    fn("image_phash", classOf[ImagePhash], exprs => ImagePhash(exprs(0))),
    fn("image_resize", classOf[ImageResize], exprs => ImageResize(exprs(0), exprs(1), exprs(2))),
    fn("byte_histogram", classOf[ByteHistogram], ByteHistogram.fromExprs),
    fn("frame_energies", classOf[FrameEnergies], FrameEnergies.fromExprs),
    fn("ngrams", classOf[NgramArray], NgramArray.fromExprs),
    fn("heavy_hitters", classOf[HeavyHitters], HeavyHitters.fromExprs),
    fn("kmv_sketch", classOf[KmvSketch], KmvSketch.fromExprs),
    fn("tdigest_quantiles", classOf[TDigestSketch], TDigestSketch.fromExprs))
}
