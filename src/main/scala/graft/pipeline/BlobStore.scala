package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Content-addressed blob sink (reference storage/blob_store.py:4–14):
  * `root/<sha256[:2]>/<sha256>`, write-if-absent.
  *
  * Spark-native: a per-row writer inside a `mapPartitions` pass over
  * (sha256, body) — Spark has no binary-file writer (K3/K5). The pass is
  * lazy, so it rides whatever action consumes it: `Runner` feeds it into
  * the artifacts append, where every blob lands in the append's map stage,
  * before the artifact rows' parquet commit. Write-if-absent makes the sink
  * idempotent under task re-execution: same key ⇒ same bytes, so a
  * re-executed partition is a no-op, and a blob deleted since the last run
  * is restored. Writes go via a temp file + atomic move so a killed task
  * never leaves a torn blob.
  */
object BlobStore {

  def blobPath(root: String, sha256: String): String =
    s"$root/${sha256.substring(0, 2)}/$sha256"

  /** Write every (sha256, body) into the store: an action over the same
    * writer as [[writeThrough]]. Input df must have columns `sha256`
    * (string) and `body` (binary). */
  def put(df: DataFrame, root: String): Unit =
    writeThrough(df.select("sha256", "body"), root)
      .write.format("noop").mode("overwrite").save()

  /** `df` without its `body` column, writing each row's blob if absent as
    * the row passes. Lazy: the blobs are written by the action that
    * consumes the result. Input df must have columns `sha256` (string) and
    * `body` (binary). */
  def writeThrough(df: DataFrame, root: String): DataFrame = {
    val shaAt = df.schema.fieldIndex("sha256")
    val bodyAt = df.schema.fieldIndex("body")
    val out = df.drop("body").schema
    df.mapPartitions { rows: Iterator[Row] =>
      rows.map { r =>
        writeIfAbsent(root, r.getString(shaAt), r.getAs[Array[Byte]](bodyAt))
        Row.fromSeq(r.toSeq.patch(bodyAt, Nil, 1))
      }
    }(Encoders.row(out))
  }

  private def writeIfAbsent(root: String, sha: String, body: Array[Byte]): Unit = {
    val target = Paths.get(blobPath(root, sha))
    if (!Files.exists(target)) {
      Files.createDirectories(target.getParent)
      val tmp = Files.createTempFile(target.getParent, s".$sha", ".tmp")
      try {
        Files.write(tmp, body)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp)
      } finally Files.deleteIfExists(tmp)
    }
  }
}
