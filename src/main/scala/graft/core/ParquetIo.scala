package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet reads for the engine's catalogs and pipelines.
  *
  * [[read]] is `spark.read.parquet(path)` without the per-read schema
  * inference. Inferring a parquet schema is a Spark job (a footer read),
  * and the registry and the medallion pipeline read the same few paths
  * many times per session. The schema is inferred once per leaf-file
  * listing of the path, (file, length, mtime) for every file under it,
  * and kept in [[SessionArtifacts]] under (session, path); a read whose
  * listing differs infers again and replaces the entry. The read itself
  * passes the schema with `.schema(s)`, so it lists and scans exactly what
  * an uncached read would. Listing a path is a driver-side file-system
  * call, not a Spark job. The memo assumes the session conf that shapes
  * inference (`spark.sql.parquet.mergeSchema`,
  * `spark.sql.legacy.parquet.nanosAsLong`) is set when the session is
  * built, as [[GraftSession]] does.
  *
  * [[readOrEmpty]] adds an explicit first-run contract: a path that does
  * not exist yet (the bootstrap case of an incremental loop) yields an
  * empty frame of the given schema; EVERY OTHER failure — permission
  * errors, corrupted footers, transient FS faults — rethrows. Swallowing
  * those as "bootstrap" would silently run an append against an empty
  * corpus and commit an artifact version missing real edges (a quality
  * hole no one alerts on), where the reference's extraction loop fails
  * loudly and retries under its at-least-once mark
  * (`lambda/snowflake_extractor/watermark_manager.py:211-259`).
  */
object ParquetIo {

  def read(spark: SparkSession, path: String): DataFrame = {
    val listing = leafFiles(spark, path)
    // no files: let Spark raise its own error (PATH_NOT_FOUND, no schema)
    if (listing.isEmpty) spark.read.parquet(path)
    else {
      val schema = SessionArtifacts.stamped(
        s"parquet-schema|${sessionId(spark)}|$path", listing)(spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  def readOrEmpty(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    try read(spark, path)
    catch {
      case e: AnalysisException if isPathNotFound(e) => empty(spark, schema)
      case _: java.io.FileNotFoundException => empty(spark, schema)
    }

  /** A random id per live session (Spark keeps its own `sessionUUID`
    * package-private); sessions compare by identity. */
  private val sessionIds =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, String]())

  private def sessionId(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID.toString)

  /** (file, length, mtime) of every file under `path`, sorted; empty when
    * the path does not exist. */
  private def leafFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Vector.newBuilder[(String, Long, Long)]
    try {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => () }
    files.result().sorted
  }

  private def isPathNotFound(e: AnalysisException): Boolean =
    Option(e.getCondition).contains("PATH_NOT_FOUND") ||
      e.getMessage.contains("PATH_NOT_FOUND") ||
      e.getMessage.contains("Path does not exist")

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
}
