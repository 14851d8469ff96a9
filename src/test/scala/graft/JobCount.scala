package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits, by job group. Listener
  * delivery is asynchronous, so after the block a one-task barrier job
  * runs in a group of its own; events reach a listener in order, so once
  * the barrier's start is seen every job of the block has been counted.
  */
object JobCount {
  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val barrier = s"$group-barrier"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(barrier, barrier)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(barrier) && System.nanoTime() < deadline) Thread.sleep(10)
      if (!seen.contains(barrier))
        throw new IllegalStateException("the barrier job never reached the listener")
      (out, seen.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}
