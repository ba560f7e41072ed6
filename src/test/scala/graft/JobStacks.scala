package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** Records which Spark jobs a block of code starts: for every stage of
  * every job, its call-site name plus the full creation stack
  * (`StageInfo.details`), so a spec can assert that a code path ran or
  * did not run (GraphX Pregel, `zipWithIndex`, a listing job).
  *
  * A job started inside a Spark SQL execution also carries that
  * execution's call site: adaptive execution submits its shuffle stages
  * from its own thread pool, so their stage stacks end in the pool and
  * only the execution's call site names the code that asked for them.
  */
object JobStacks {

  /** The description prefix of the job that marks the end of `body`. */
  val MarkerPrefix = "JobStacks marker"

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val marker = s"$MarkerPrefix ${System.nanoTime()}"
    val markerSeen = new CountDownLatch(1)
    val stacks = new ConcurrentLinkedQueue[String]()
    val executionSites = new ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executionSites.put(s.executionId.toString, s.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.job.description") == marker)) markerSeen.countDown()
        else {
          val site = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
            .flatMap(id => Option(executionSites.get(id))).fold("")("\n" + _)
          e.stageInfos.foreach(si => stacks.add(si.name + "\n" + si.details + site))
        }
      }
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
