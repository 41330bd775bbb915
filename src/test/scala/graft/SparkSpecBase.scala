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

  /** An IVF-flat index (4 cells) over sf0.001's standing embeddings with
    * a quarter of them tombstoned, and a landing dir of two 20-vector
    * files of new ones (one per trigger at `maxFilesPerTrigger = 1`) —
    * the setup of the ANN loops' tombstone-standing job pins. `body`
    * gets (root, index path, landing dir); the root is removed after. */
  def withTombstonedAnnIndex(prefix: String)(
      body: (java.nio.file.Path, String, String) => Unit): Unit = {
    import org.apache.spark.sql.functions.{col, md5, substring}
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isNew = substring(md5(col("vec_id").cast("string")), 1, 4) >= "cccc"
    val root = java.nio.file.Files.createTempDirectory(prefix)
    val ix = root.resolve("ix").toString
    val landing = root.resolve("landing")
    try {
      graft.operators.Similarity.writeIvfFlatIndex(e.filter(!isNew), nLists = 4, ix)
      graft.operators.Similarity.deleteFromAnnIndex(
        e.filter(!isNew && col("vec_id") % 4 === 0).select(col("vec_id")), ix)
      java.nio.file.Files.createDirectory(landing)
      Seq(col("vec_id") % 2 === 0, col("vec_id") % 2 =!= 0).zipWithIndex
        .foreach { case (half, i) =>
          val stage = root.resolve(s"stage_$i")
          e.filter(isNew && half).select("vec_id", "embedding").limit(20)
            .coalesce(1).write.parquet(stage.toString)
          val part = stage.toFile.listFiles()
            .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
          val dst = landing.resolve(s"$i.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          dst.toFile.setLastModified(1000000L * (i + 1))
        }
      body(root, ix, landing.toString)
    } finally graft.operators.Maintenance.rmTree(root.toFile)
  }
}
