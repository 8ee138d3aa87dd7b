package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

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
    val files = listing(spark, path)
    // no files: let Spark raise its own error (PATH_NOT_FOUND, no schema)
    if (files.isEmpty) spark.read.parquet(path)
    else {
      val schema = SessionArtifacts.stamped(
        s"parquet-schema|${sessionId(spark)}|$path", files)(spark.read.parquet(path).schema)
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

  /** The schema `spark.read.parquet` reports for a frame of `schema`
    * written with `partitionBy(partitionCols)`: every field nullable,
    * nested ones too, and the partition columns last. A read that passes
    * it runs no inference job. */
  def writtenSchema(schema: StructType, partitionCols: Seq[String] = Seq.empty): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    val (parts, data) = schema.fields.partition(f => partitionCols.contains(f.name))
    nullable(StructType(data ++ partitionCols.flatMap(c => parts.find(_.name == c))))
      .asInstanceOf[StructType]
  }

  /** (file, length, mtime) of every file under `path`, sorted; empty when
    * the path does not exist. A driver-side listing, not a Spark job. It
    * walks `listStatus` rather than `listFiles`: a located listing of the
    * local file system reads each file's owner and permissions, which
    * without Hadoop's native library forks a shell command per file. */
  def listing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: Path): Seq[(String, Long, Long)] = fs.listStatus(dir).toSeq.flatMap { f =>
      if (f.isDirectory) walk(f.getPath)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    try walk(p).sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  private def isPathNotFound(e: AnalysisException): Boolean =
    Option(e.getCondition).contains("PATH_NOT_FOUND") ||
      e.getMessage.contains("PATH_NOT_FOUND") ||
      e.getMessage.contains("Path does not exist")

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
}
