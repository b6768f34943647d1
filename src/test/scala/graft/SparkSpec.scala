package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. The session is reused
  * across suites within a JVM (sbt forks one test JVM) to keep `sbt test`
  * fast; suites must not mutate global session state. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** The executed plans of the Catalyst actions `body` runs on `session`,
    * as a QueryExecutionListener receives them; a marker action, delivered
    * after every action before it, proves that all have arrived. */
  def actionPlans[T](session: SparkSession)(body: => T): (T, Seq[String]) = {
    import org.apache.spark.sql.execution.QueryExecution
    val marker = session.range(1).toDF("actions_marker")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val delivered = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq marker.queryExecution) delivered.countDown() else plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(scala.util.Try(qe.executedPlan.toString).getOrElse(s"failed: $e"))
    }
    session.listenerManager.register(listener)
    try {
      val r = body
      marker.collect()
      assert(delivered.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (r, plans.toArray(Array.empty[String]).toSeq)
    } finally session.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
