package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One shared local session for the whole suite (session startup dominates
  * test wall-clock otherwise). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build(cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SharedSpark.spark

  /** The number of Spark jobs `body` starts. A job counts when it runs
    * under the call's own job group (jobs of this thread, and of worker
    * threads the group is copied onto) or carries the call's tag as a
    * local property (jobs of threads `body` starts, such as a streaming
    * query's execution thread: it inherits local properties but sets its
    * own job group). A sentinel job under a second tag marks the end —
    * the listener bus delivers in order, so once the sentinel shows up
    * every earlier job has. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val pinKey = "graft.spec.jobPin"
    val tag = "graft-job-pin-" + java.util.UUID.randomUUID()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = js.properties
        if (p != null) {
          val g = p.getProperty("spark.jobGroup.id")
          seen.add(if (g == tag) tag else String.valueOf(p.getProperty(pinKey)))
        }
        ()
      }
    }
    def tagged(t: String)(f: => Unit): Unit = {
      sc.setJobGroup(t, "job pin", false)
      sc.setLocalProperty(pinKey, t)
      try f finally { sc.setLocalProperty(pinKey, null); sc.clearJobGroup() }
    }
    sc.addSparkListener(listener)
    try {
      tagged(tag)(body)
      tagged(tag + "-end") { sc.parallelize(Seq(1), 1).count(); () }
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!seen.contains(tag + "-end") && System.nanoTime() < deadline)
        Thread.sleep(50)
      seen.contains(tag + "-end") shouldBe true
      import scala.jdk.CollectionConverters._
      seen.iterator().asScala.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }
}
