package pkel

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite), and one temp root
  * per suite that is deleted after it. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("pkel-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private var suiteRoot: Option[Path] = None

  /** A new directory under this suite's temp root, named `prefix` plus a
    * random suffix. The whole root is deleted after the suite. */
  def tempDir(prefix: String): String = synchronized {
    val root = suiteRoot.getOrElse {
      val r = Files.createTempDirectory(s"pkel_${getClass.getSimpleName}_")
      suiteRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix).toString
  }

  override def afterAll(): Unit =
    try suiteRoot.foreach { root =>
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
      suiteRoot = None
    } finally super.afterAll()

  /** Spark jobs started while `body` runs, counted by a listener. */
  def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try body finally {
      org.apache.spark.sql.pkelbridge.Bridge.waitForListeners(spark)
      spark.sparkContext.removeSparkListener(l)
    }
    n.get()
  }

  /** Children of an executed plan node, looking through the adaptive tree:
    * `QueryStageExec` nodes are its LEAVES, and the materialized sub-plans
    * (where joins and exchanges live) are only reachable through each
    * stage's `plan` field. */
  def planChildren(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case n => n.children
  }

  /** Every node of an executed plan, adaptive query stages included. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: planChildren(p).flatMap(planNodes)

  def resourcePath(p: String): String = {
    val url = getClass.getResource(p)
    require(url != null, s"missing test resource $p")
    url.getPath
  }
}
