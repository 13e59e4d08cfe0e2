package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (small data → tiny shuffle partitions). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def resourcePath(name: String): String =
    getClass.getResource(s"/$name").getPath

  /** The query executions of every action `body` runs in the session, in
    * the order they ended.
    */
  def executionsOf(body: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    import scala.jdk.CollectionConverters._
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = qes.add(qe)
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    qes.asScala.toSeq
  }
}

object SparkSpec {
  /** Two cores whatever `SPARK_GRAFT_CPUS` says, so no plan fingerprint
    * depends on the machine.
    */
  lazy val session: SparkSession = Sessions.local("graft-test", cores = 2)
}
