package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.functions.{FloatDot, FloatPrefixDots, H60, H60Array, MinHashSigs, SimHash64}

/** SparkSessionExtensions entry point (SURVEY §4's reserved extension seam):
  * registers the engine's custom Catalyst expressions as SQL functions, so
  * `spark.sql("SELECT float_dot(a, b) ...")` works next to the Column API.
  *
  * [[Engine.builder]] installs it. A session built elsewhere (a user's
  * own, reading through the `graft` source) takes it with
  * `withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(graft.plans.PresentationSortRule.apply)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  /** The SQL functions the extension registers: (name, info, builder). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot",
        "float_dot(a, b) - double-precision dot product of two float arrays"),
      children => FloatDot(children(0), children(1))),
    (FunctionIdentifier("float_prefix_dots"),
      new ExpressionInfo(classOf[FloatPrefixDots].getName, "float_prefix_dots",
        "float_prefix_dots(a, b, b1, b2, ...) - prefix dot products of two " +
          "float arrays at ascending literal boundaries, one pass"),
      children => FloatPrefixDots(children(0), children(1),
        children.drop(2).map(intLiteral("float_prefix_dots", "each bound", _)))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64",
        "simhash64(hashes) - 64-bit SimHash of an array<long> of token hashes"),
      children => SimHash64(children(0))),
    (FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs",
        "minhash_sigs(shingles, n) - n MinHash signature values of an array<string>"),
      children => MinHashSigs(children(0), intLiteral("minhash_sigs", "numHashes", children(1)))),
    (FunctionIdentifier("h60"),
      new ExpressionInfo(classOf[H60].getName, "h60",
        "h60(s) - 60-bit engine-parity content hash (top bits of md5), " +
          "DuckDB twin: CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)"),
      children => H60(children(0))),
    (FunctionIdentifier("h60_array"),
      new ExpressionInfo(classOf[H60Array].getName, "h60_array",
        "h60_array(arr) - element-wise h60 over an array<string>"),
      children => H60Array(children(0))))

  /** The Int value of an integral literal argument. NULL, fractional,
    * string and non-literal arguments are rejected by name instead of
    * surfacing as a NullPointerException or NumberFormatException. */
  private def intLiteral(fn: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) if v.isValidInt => v.toInt
    case Literal(v: Short, ShortType) => v.toInt
    case Literal(v: Byte, ByteType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integral literal, got ${other.sql}")
  }
}
