package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, IntegerType, LongType, ShortType}

/** Session extensions: the engine's custom Catalyst surface.
  *
  * Install with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. Registers:
  *
  *  - `haversine_km(lat1, lon1, lat2, lon2)` — native codegen expression
  *    ([[HaversineKm]]);
  *  - `cosine_sim(a, b)` / `dot_product(a, b)` — native codegen vector
  *    kernels over `array<double>` ([[CosineSim]], [[DotProduct]]) —
  *    [[graft.functions.vectors]] routes through these;
  *  - [[BoundingBoxRule]] — rewrites `haversine_km(...) <= r` filters into
  *    themselves AND a sargable lat/lon bounding box, which is what lets a
  *    Parquet scan prune row groups at 100 TB (SURVEY.md §4's GIST-index
  *    substitute);
  *  - [[SharedStrategy]] — plans the [[Shared]] node behind
  *    [[Shared.share]] as one reusable exchange.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // SQL-literal ergonomics: `haversine_km(32.7, -117.1, ...)` arrives as
  // DECIMAL literals and `cosine_sim(embedding, ...)` as ARRAY<FLOAT> —
  // the strict expressions would reject both. Builders coerce with an
  // explicit Cast (unconditional: children may still be unresolved here,
  // so their dataType cannot be inspected); SimplifyCasts removes the
  // no-op ones. The cost of the ergonomics, stated honestly: a type that
  // Cast accepts at analysis (STRING, notably) defers its failure to
  // runtime — an error under ANSI mode (Spark 4's default), a silent NULL
  // under spark.sql.ansi.enabled=false. Only a type with no cast to
  // double/array<double> at all (MAP, STRUCT, BINARY) fails analysis.
  private def dbl(e: Expression): Expression = Cast(e, DoubleType)
  private def dblArr(e: Expression): Expression = Cast(e, ArrayType(DoubleType))
  // Widen only INTEGRAL element types to BIGINT (SQL literal arrays parse
  // as ARRAY<INT>); anything else passes through UNCAST so QDistSq's
  // checkInputDataTypes can reject it — an unconditional cast would
  // silently truncate ARRAY<DOUBLE> embeddings toward zero and return
  // plausible-but-wrong distances instead of failing analysis.
  private def lngArr(e: Expression): Expression =
    if (!e.resolved) Cast(e, ArrayType(LongType))
    else e.dataType match {
      case ArrayType(ByteType | ShortType | IntegerType, _) =>
        Cast(e, ArrayType(LongType))
      case _ => e
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("haversine_km"),
      new ExpressionInfo(classOf[HaversineKm].getName, "haversine_km"),
      (children: Seq[Expression]) => {
        require(children.length == 4, "haversine_km(lat1, lon1, lat2, lon2)")
        HaversineKm(dbl(children(0)), dbl(children(1)),
          dbl(children(2)), dbl(children(3)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim(a, b)")
        CosineSim(dblArr(children(0)), dblArr(children(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_product(a, b)")
        DotProduct(dblArr(children(0)), dblArr(children(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("qdist_sq"),
      new ExpressionInfo(classOf[QDistSq].getName, "qdist_sq"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "qdist_sq(a, b)")
        QDistSq(lngArr(children(0)), lngArr(children(1)))
      }))
    // the TextNorm scrub kernels, SQL-callable and codegen-inlined; the
    // strict STRING check stays with the expression (no coercing cast:
    // normalizing a number is a caller bug worth failing at analysis)
    Seq[(String, Class[_], Expression => Expression)](
      ("normalize_text", classOf[NormalizeText], NormalizeText.apply),
      ("html_to_text", classOf[HtmlToText], HtmlToText.apply),
      ("canonical_url", classOf[CanonicalizeUrl], CanonicalizeUrl.apply)
    ).foreach { case (name, cls, build) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        // each entry carries ITS implementing class: DESCRIBE FUNCTION
        // reports it, and all three pointing at NormalizeText misled
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == 1, s"$name(s)")
          build(children.head)
        }))
    }
    ext.injectOptimizerRule(_ => BoundingBoxRule)
    ext.injectPlannerStrategy(_ => SharedStrategy)
  }
}
