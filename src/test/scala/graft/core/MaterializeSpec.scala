package graft.core

import java.nio.file.{Files, Path}

import graft.SparkSpec

/** Materialization contract of [[SessionArtifacts.parquet]]: a dir is
  * memoized per key while live and removed by close(); a post-close request
  * rebuilds.
  */
class MaterializeSpec extends SparkSpec {

  private def exists(d: String) = Files.exists(Path.of(d))

  test("once memoizes per key, close removes dirs, post-close rebuilds") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1; Seq((1, "a"), (2, "b")).toDF("k", "v") }

    val before = SessionArtifacts.liveDirs.toSet
    assert(SessionArtifacts.parquet(spark, "spec|memo")(build()).count() == 2)
    assert(SessionArtifacts.parquet(spark, "spec|memo")(build()).count() == 2)
    assert(builds == 1, "second request must read the materialization")

    val created = (SessionArtifacts.liveDirs.toSet -- before).toSeq
    assert(created.size == 1 && exists(created.head))

    SessionArtifacts.close()
    assert(!exists(created.head), s"close() must delete ${created.head}")
    assert(SessionArtifacts.liveDirs.isEmpty)

    assert(SessionArtifacts.parquet(spark, "spec|memo")(build()).count() == 2)
    assert(builds == 2)
    SessionArtifacts.close()
  }
}
