package graft.util

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class EngineCacheSpec extends SparkSpec {

  private def onThreads[A](n: Int)(body: () => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    val barrier = new CyclicBarrier(n)
    try {
      val fs = (1 to n).map(_ =>
        pool.submit(new Callable[A] { def call(): A = { barrier.await(); body() } }))
      fs.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  private def persisted(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("concurrent callers of one key run the build once and share its value") {
    val cache = new EngineCache[String, AnyRef](4)
    val builds = new AtomicInteger
    val got = onThreads(8) { () =>
      cache.getOrBuild("k") { builds.incrementAndGet(); Thread.sleep(200); new Object }
    }
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head))
    assert(cache.getOrBuild("k")(fail("k is cached")) eq got.head)
  }

  test("at capacity only the least recently used entry is evicted and released") {
    val released = scala.collection.mutable.Buffer.empty[String]
    val cache = new EngineCache[String, DataFrame](2, df => synchronized {
      released += df.columns.head; df.unpersist(true)
    })
    // distinct row counts: Spark's cache shares one entry among same-result plans
    def frame(name: String): DataFrame = {
      val df = spark.range(name.head.toLong).toDF(name).persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }
    val a = cache.getOrBuild("a")(frame("a"))
    val b = cache.getOrBuild("b")(frame("b"))
    assert(cache.getOrBuild("a")(fail("a is cached")) eq a) // a is now the newer
    val c = cache.getOrBuild("c")(frame("c"))
    assert(released.toSeq == Seq("b"))
    assert(!persisted(b))
    assert(persisted(a) && persisted(c))
    assert(cache.getOrBuild("a")(fail("a is cached")) eq a)
    assert(cache.getOrBuild("c")(fail("c is cached")) eq c)
    // remove releases exactly the removed entry
    cache.remove("a")
    assert(released.toSeq == Seq("b", "a") && !persisted(a) && persisted(c))
    cache.remove("c")
  }

  test("a build that throws leaves no entry, and the next call builds again") {
    val cache = new EngineCache[String, String](4)
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException](cache.getOrBuild("k") {
      builds.incrementAndGet(); throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(cache.getOrBuild("k") { builds.incrementAndGet(); "v" } == "v")
    assert(builds.get == 2)
    assert(cache.getOrBuild("k")(fail("k is cached")) == "v")
  }

  test("two equal but distinct frames do not share an identity-keyed entry") {
    val df1 = spark.range(5).toDF("x")
    val df2 = spark.range(5).toDF("x")
    assert(df1.queryExecution.analyzed.sameResult(df2.queryExecution.analyzed))
    assert(new FrameKey("t", Seq(df1)) != new FrameKey("t", Seq(df2)))
    assert(new FrameKey("t", Seq(df1)) == new FrameKey("t", Seq(df1)))
    assert(new FrameKey("t", Seq(df1)) != new FrameKey("u", Seq(df1)))
    val cache = new EngineCache[FrameKey, String](4)
    val builds = new AtomicInteger
    def stat(df: DataFrame): String =
      cache.getOrBuild(new FrameKey("t", Seq(df))) { builds.incrementAndGet().toString }
    assert(stat(df1) == "1" && stat(df2) == "2" && stat(df1) == "1")
    assert(builds.get == 2)
  }
}
