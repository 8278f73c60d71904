package graft.util

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

class JobsSpec extends SparkSpec with Eventually {

  override def beforeAll(): Unit = { super.beforeAll(); spark }

  test("results come back in input order, whatever order tasks finish in") {
    val out = Jobs.all((0 until 6).map(i => () => { Thread.sleep((6 - i) * 20L); i }))
    assert(out == (0 until 6))
    assert(Jobs.all(Seq.empty[() => Int]).isEmpty)
  }

  test("a failure is rethrown only after every sibling task has finished") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Jobs.all(Seq(
      () => throw new IllegalStateException("first"),
      () => { Thread.sleep(400); slowDone.set(true); 1 },
      () => { Thread.sleep(50); throw new IllegalArgumentException("second") })))
    assert(e.getMessage == "first")
    assert(slowDone.get)
  }

  test("jobs submitted from the pool carry the caller's local properties") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(Option[String], Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.span"))),
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.span", "span-7")
      sc.setJobDescription("jobs-spec")
      val counts = Jobs.all((1 to 3).map(n => () => spark.range(n * 10L).count()))
      assert(counts == Seq(10L, 20L, 30L))
      eventually(timeout(10.seconds)) { assert(seen.size >= 3) }
      seen.forEach(p => assert(p == ((Some("span-7"), Some("jobs-spec")))))
    } finally {
      sc.setLocalProperty("graft.test.span", null)
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
