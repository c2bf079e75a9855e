package graft

import graft.engine.FsUtil
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for specs (one JVM-wide session; tests fork). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session

  private val tempDirs = ConcurrentHashMap.newKeySet[Path]()

  /** A fresh directory under the JVM temp dir, named `prefix…`; it is
    * deleted with everything in it after the suite.
    */
  protected def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try tempDirs.asScala.foreach(FsUtil.deleteRecursively)
    finally super.afterAll()

  /** The plan texts (initial and adaptive re-plans) of every SQL
    * execution that submitted a job while `body` ran; a job outside any
    * execution counts with an empty plan.
    */
  protected def jobPlans(body: => Unit): Seq[String] = {
    val plans = new ConcurrentHashMap[Long, String]
    val executions = ConcurrentHashMap.newKeySet[Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        executions.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .fold(-1L)(_.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.merge(s.executionId, s.physicalPlanDescription, _ + _)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.merge(u.executionId, u.physicalPlanDescription, _ + _)
        case _ => ()
      }
    }
    ListenerDrain.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerDrain.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    executions.asScala.toSeq.map(plans.getOrDefault(_, ""))
  }
}

object SparkSpecBase {
  // local[4, 2]: task maxFailures=2 so retry-semantics specs (O3
  // failure injection) can exercise a real task re-attempt — one JVM
  // holds one SparkContext, so the retry specs cannot run their own
  // differently-configured session. Known trade-off: an intermittent
  // task failure elsewhere gets one silent retry before a spec fails;
  // PagedRetrySpec's listener assertion (failed-task count > 0) is the
  // pattern to use when a spec must OBSERVE failures rather than
  // survive them.
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
