package graft.pipeline

import java.util.concurrent.{Executors, ThreadFactory}

import org.apache.spark.sql.SparkSession

/** The driver threads the dense regime's two kernels run on
  * (`Completion.completeDense`, `Network.denseSurvivors`): the matrix is
  * already on the driver there, and each kernel is tens of milliseconds
  * of arithmetic — less than scheduling one Spark job.
  */
private[pipeline] object DriverThreads {

  /** min(`defaultParallelism`, the driver's cores): a `local[32]` session
    * on a 4-core host runs 4 threads, not 32. The kernels' results do not
    * depend on the count.
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
    * thread (t = 0 on the caller's), and returns once all have; a failure
    * of any is rethrown.
    */
  def run(threads: Int)(work: Int => Unit): Unit = {
    val others = (1 until threads).map(t => pool.submit(new Runnable { def run(): Unit = work(t) }))
    try work(0)
    finally others.foreach(_.get())
  }
}
