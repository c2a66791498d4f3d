package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `Test / fork`). */
object SparkSpec {
  lazy val session: SparkSession = Sessions.local("4")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Ids of the RDDs persisted while `body` ran that are still persisted
    * after it. A poller holds every persisted RDD it sees, so the
    * ContextCleaner cannot unpersist a leaked one at some GC before the
    * check: only an explicit release removes it.
    */
  def leakedRdds(body: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
    @volatile var done = false
    val poller = new Thread(() => while (!done) {
      sc.getPersistentRDDs.foreach { case (id, rdd) => held.put(id, rdd) }
      Thread.sleep(5)
    })
    poller.setDaemon(true)
    poller.start()
    try body finally { done = true; poller.join() }
    val left = sc.getPersistentRDDs.keySet -- before
    java.lang.ref.Reference.reachabilityFence(held)
    left.toSet
  }
}
