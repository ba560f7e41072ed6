package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class DriverThreadsSpec extends AnyFunSuite {

  test("a worker's failure is rethrown as itself, once every worker has returned") {
    val boom = new IllegalArgumentException("probe 'p' of sample 's' in file f.txt")
    val finished = new AtomicInteger
    val e = intercept[IllegalArgumentException](DriverThreads.run(4) { t =>
      if (t == 2) throw boom
      Thread.sleep(50)
      finished.incrementAndGet()
    })
    assert(e eq boom)
    assert(finished.get == 3)
  }

  test("every failure reaches the caller: the lowest thread's, with the others suppressed") {
    val e = intercept[IllegalStateException](DriverThreads.run(4) { t =>
      if (t % 2 == 1) throw new IllegalStateException(s"thread $t")
    })
    assert(e.getMessage == "thread 1")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("thread 3"))
  }
}
