package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs started under a tag. [[tagged]] sets the tag as a
  * local property of the calling thread; threads started inside the block
  * (a stream's execution thread) inherit it. Job counts do not move with
  * machine speed, so they show a plan change that wall time hides.
  */
private[graft] final class JobTally(sc: SparkContext) {
  private val counts = new ConcurrentHashMap[String, Integer]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(JobTally.Prop)))
        .foreach(t => counts.merge(t, 1, (a: Integer, b: Integer) => a + b))
  }
  sc.addSparkListener(listener)

  def tagged[T](tag: String)(body: => T): T = {
    val outer = sc.getLocalProperty(JobTally.Prop)
    sc.setLocalProperty(JobTally.Prop, tag)
    try body finally sc.setLocalProperty(JobTally.Prop, outer)
  }

  /** Jobs started under `tag`, read once every queued event is delivered. */
  def apply(tag: String): Int = {
    org.apache.spark.sql.graft.GraftSqlBridge.drainListeners(sc)
    counts.getOrDefault(tag, 0)
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

private[graft] object JobTally {
  val Prop = "graft.jobs.tag"
}
