package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.core.SessionArtifacts

/** The registry's temp dirs all belong to [[SessionArtifacts]]: building
  * the queries that write persisted indexes, watermark stores, bucketed
  * tables and the suffix store, then closing the session artifacts, leaves
  * no new dir under `java.io.tmpdir`.
  */
class SessionArtifactsLeakSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def tmpDirs(): Set[Path] = {
    val s = Files.list(Path.of(System.getProperty("java.io.tmpdir")))
    try s.iterator().asScala.filter(Files.isDirectory(_)).toSet finally s.close()
  }

  test("registry builds leave no temp dir after close") {
    // Spark makes its own per-session dirs (warehouse, artifacts) on first
    // use and deletes them at exit: run one query before the snapshot
    spark.range(1).write.format("noop").mode("overwrite").save()
    SessionArtifacts.close()
    val before = tmpDirs()
    for (q <- Seq("q_wm", "q_bucketed", "q_ann_pq", "q_ann_ivfpq", "q_incladder", "q_lcpstats"))
      SparkEntry.queries(q)(spark, dir)
    // index dirs, watermark and bucket scratch, suffix store, ladder + LCP table
    assert(SessionArtifacts.liveDirs.size >= 7, SessionArtifacts.liveDirs)
    SessionArtifacts.close()
    val left = tmpDirs() -- before
    assert(left.isEmpty, s"temp dirs left behind: ${left.mkString(", ")}")
  }
}
