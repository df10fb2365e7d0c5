package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code launches, for specs that pin a
  * call's job count.
  */
object JobCount {

  private final class Counter extends SparkListener {
    val jobs = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
  }

  /** The result of `body` and the number of Spark jobs it ran. */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerDrain(sc) // earlier events must not reach the new counter
    val counter = new Counter
    sc.addSparkListener(counter)
    try {
      val result = body
      ListenerDrain(sc)
      (result, counter.jobs.get)
    } finally sc.removeSparkListener(counter)
  }
}
