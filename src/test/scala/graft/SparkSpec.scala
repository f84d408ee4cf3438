package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one engine session per test JVM (guide
  * §ScalaTest), so the specs run the plans, confs and I/O path the engine
  * serves. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Engine.session("spark.app.name" -> getClass.getSimpleName)

  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here
    super.afterAll()
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val (a, jobs, _, _) = stagesDuring(body)
    (a, jobs)
  }

  /** `body`'s result and the Spark jobs, stages and tasks started while it ran. */
  def stagesDuring[A](body: => A): (A, Int, Int, Int) = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler._
    val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val a = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    })(body)
    (a, jobs.get, stages.get, tasks.get)
  }

  /** `body`'s result, with `listener` attached while it runs: every event
    * of `body`'s jobs, and none from before it, reaches the listener. */
  def listening[A](listener: org.apache.spark.scheduler.SparkListener)(body: => A): A = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      a
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
