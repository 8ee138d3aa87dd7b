package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** Contract of [[SessionArtifacts]]: one build per key, builds that nest,
  * and a close() that deletes every dir handed out, forgets every value
  * and lets the next request rebuild. The parquet memoize/close/rebuild
  * case lives in [[MaterializeSpec]].
  */
class SessionArtifactsSpec extends SparkSpec {

  private def exists(d: String) = Files.exists(Path.of(d))

  test("one build per key, however many threads ask; a failed build is retried") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          SessionArtifacts.value("spec|once") { builds.incrementAndGet(); Thread.sleep(50); 42 }
        }
      }))
      start.countDown()
      assert(got.map(_.get(30, TimeUnit.SECONDS)).toSet == Set(42))
      assert(builds.get == 1)
    } finally pool.shutdown()

    intercept[IllegalStateException](
      SessionArtifacts.value[Int]("spec|flaky")(throw new IllegalStateException("x")))
    assert(SessionArtifacts.value("spec|flaky")(7) == 7)
    SessionArtifacts.close()
  }

  test("a build may ask for other keys inside itself") {
    import spark.implicits._
    // 32 inner keys fill and resize the map while the outer build runs —
    // which a build inside ConcurrentHashMap.computeIfAbsent may not do
    val outer = SessionArtifacts.value("spec|outer") {
      (1 to 32).map(i => SessionArtifacts.value(s"spec|inner$i")(i)).sum
    }
    assert(outer == (1 to 32).sum)
    assert(SessionArtifacts.value("spec|inner7")(-1) == 7)

    // the suffix-LCP shape: a parquet artifact built from another one
    val lcp = SessionArtifacts.parquet(spark, "spec|lcp") {
      SessionArtifacts.parquet(spark, "spec|ladder")(Seq(1, 2, 3).toDF("h"))
        .selectExpr("h * 10 AS lcp")
    }
    assert(lcp.as[Int].collect().sorted.toSeq == Seq(10, 20, 30))
    SessionArtifacts.close()
  }

  test("close deletes every kind of dir and forgets every value; the next request rebuilds") {
    import spark.implicits._
    var builds = 0
    val written = SessionArtifacts.dir("spec|dir") { d =>
      builds += 1; Files.writeString(Path.of(d, "marker"), "x")
    }
    val table = SessionArtifacts.dir("spec|table") { d =>
      Seq(1).toDF("x").write.mode("overwrite").parquet(d)
    }
    val scratch = Seq(SessionArtifacts.scratchDir(), SessionArtifacts.scratchDir())
    assert(scratch.distinct.size == 2, "every scratch request is a fresh dir")
    assert(SessionArtifacts.value("spec|v") { builds += 1; "first" } == "first")
    val all = written +: table +: scratch
    assert(all.forall(exists) && all.toSet.subsetOf(SessionArtifacts.liveDirs.toSet))

    SessionArtifacts.close()
    all.foreach(d => assert(!exists(d), s"close() must delete $d"))
    assert(SessionArtifacts.liveDirs.isEmpty)

    assert(SessionArtifacts.value("spec|v") { builds += 1; "second" } == "second")
    val rewritten = SessionArtifacts.dir("spec|dir") { d =>
      builds += 1; Files.writeString(Path.of(d, "marker"), "y")
    }
    assert(builds == 4 && rewritten != written && exists(rewritten))
    SessionArtifacts.close()
  }
}
