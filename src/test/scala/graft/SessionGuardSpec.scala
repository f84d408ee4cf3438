package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** Every session is built by [[Engine.builder]], which alone reads the
  * `SPARK_GRAFT_CONF` overrides, so the mains, the oracle gate and the
  * tests run the plans and confs the engine serves. */
class SessionGuardSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  // spelled in parts, so that this file holds no literal of the name
  private val confVar = "SPARK_GRAFT_" + "CONF"

  /** Does this source build a session or read the overrides itself? */
  private def offends(src: String): Boolean = {
    val (code, strings) = ScalaSource.lex(src)
    "SparkSession\\s*\\.\\s*builder\\b".r.findFirstIn(code).isDefined || strings.contains(confVar)
  }

  test("the guard sees code, not comments or strings") {
    assert(offends("val p = \"file:///tmp\"; val s = SparkSession.builder()"))
    assert(offends("val a = \"/*\"; SparkSession.builder(); val b = \"*/\""))
    assert(offends("val q = '\"'; val s = SparkSession .builder()"))
    assert(offends("val m = s\"${f(\"x\")}\"; SparkSession.builder()"))
    assert(offends("sys.env.get(\"" + confVar + "\")"))
    assert(!offends("// SparkSession.builder()\n/* a /* nested */ SparkSession.builder() */ val s = \"SparkSession.builder()\""))
    assert(!offends("val doc = \"\"\"SparkSession.builder() // " + confVar + "\"\"\""))
  }

  test("only Engine.scala builds a session or reads SPARK_GRAFT_CONF") {
    val roots = Seq("src/main/scala", "src/test/scala").map(new java.io.File(_))
    roots.foreach(r => assert(r.isDirectory, s"run from the project root: ${r.getAbsolutePath}"))
    val offenders = roots.flatMap(ScalaSource.files).filter(f => offends(ScalaSource.text(f))).map(_.getPath)
    assert(offenders == Seq(new java.io.File(roots.head, "graft/Engine.scala").getPath),
      s"a session built outside Engine.builder: ${offenders.mkString(", ")}")
  }

  test("the shared fixture is an engine session: presentation sort rule, no NTZ inference") {
    import spark.implicits._
    val df = (1 to 100).toDF("x").orderBy(col("x").desc)
    val rangeExchanges = collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(rangeExchanges.isEmpty, df.queryExecution.executedPlan.toString)
    assert(df.collect().map(_.getInt(0)).toSeq == (100 to 1 by -1))
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
  }
}
