package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. Listener events arrive
  * asynchronously but in order, so the block is bracketed by two tagged
  * marker jobs: once the closing marker's start event is seen, every
  * job the block launched has been seen before it, and nothing from
  * before the opening marker is counted. */
object SparkJobs {
  private val Tag = "graft.spec.jobMarker"

  def count(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).getOrElse(""))
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty(Tag, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Tag, null)
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      body
      marker("close")
      var opened, closed = false
      var jobs = 0
      while (!closed) {
        val tag = starts.poll(60, TimeUnit.SECONDS)
        assert(tag != null, "the closing marker job never reached the listener")
        tag match {
          case "open" => opened = true
          case "close" => closed = true
          case _ => if (opened) jobs += 1
        }
      }
      jobs
    } finally sc.removeSparkListener(listener)
  }
}
