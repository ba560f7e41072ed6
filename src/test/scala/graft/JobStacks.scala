package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Records which Spark jobs a block of code starts: for every stage of
  * every job, its call-site name plus the full creation stack
  * (`StageInfo.details`), so a spec can assert that a code path ran or
  * did not run (GraphX Pregel, `zipWithIndex`, a listing job).
  */
object JobStacks {

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val marker = s"JobStacks marker ${System.nanoTime()}"
    val markerSeen = new CountDownLatch(1)
    val stacks = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen.countDown()
        else e.stageInfos.foreach(si => stacks.add(si.name + "\n" + si.details))
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      // listener events arrive in order: once the marker job's start is
      // seen, every job `body` started has been recorded
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      require(markerSeen.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (result, stacks.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
