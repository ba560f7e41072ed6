package graft.pipeline

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The driver threads the dense regime's read and two kernels run on
  * (`Ingest.ingestDense`, `Completion.completeDense`,
  * `Network.denseSurvivors`): the results are wanted on the driver
  * there, and each step is tens of milliseconds of work — about what
  * scheduling one Spark job costs.
  */
private[pipeline] object DriverThreads {

  /** min(`defaultParallelism`, the driver's cores): a `local[32]` session
    * on a 4-core host runs 4 threads, not 32. No result depends on the
    * count.
    */
  def count(spark: SparkSession): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, Runtime.getRuntime.availableProcessors))

  // daemon threads, reused across calls and kernels; idle ones exit
  private lazy val pool = Executors.newCachedThreadPool(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "graft-driver-kernel")
      t.setDaemon(true)
      t
    }
  })

  /** Runs `work(t)` for every t in 0 until `threads`, each on its own
    * thread (t = 0 on the caller's), and returns once all have. A failure
    * is rethrown as the worker's own exception, the lowest t's first,
    * with any other workers' failures added to it as suppressed.
    */
  def run(threads: Int)(work: Int => Unit): Unit = {
    val others = (1 until threads).map(t => pool.submit(new Runnable { def run(): Unit = work(t) }))
    val failures = ArrayBuffer.empty[Throwable]
    try work(0) catch { case e: Throwable => failures += e }
    others.foreach(f => try f.get() catch { case e: ExecutionException => failures += e.getCause })
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}
