package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import TestSpark._

/** Gates that stage files or catalog tables at run time must not share
  * them across executions: a service runs the same gate for two
  * clients at once. Each overlapping execution must return exactly
  * what a single run returns. */
class GateOverlapSpec extends AnyFunSuite {

  for (g <- Seq("q10_bucketed_join", "q15_summary_rewrite"))
    test(s"$g: two overlapping executions both match a single run") {
      def rows(): Seq[String] = gate(g, sf0001).collect().map(_.toString).toSeq.sorted
      val single = rows()
      val pool = Executors.newFixedThreadPool(2)
      try {
        for (_ <- 1 to 3) {
          val start = new CyclicBarrier(2)
          val runs = (1 to 2).map(_ => pool.submit[Seq[String]] { () =>
            start.await(); rows()
          })
          runs.foreach(r => assert(r.get(300, TimeUnit.SECONDS) == single))
        }
      } finally pool.shutdown()
    }
}
