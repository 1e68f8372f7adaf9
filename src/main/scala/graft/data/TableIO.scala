package graft.data

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}

/** Table IO facade: Iceberg catalog tables in production, path-based
  * Parquet in environments without an Iceberg runtime (this sandbox ships
  * no iceberg-spark-runtime jar and dependency resolution is offline).
  *
  * The production mapping is one format switch, not a rewrite:
  *  - read  → `spark.read.format("iceberg").load(ident)`
  *  - write → `df.writeTo(ident).using("iceberg").createOrReplace()`
  *  - stage checkpoints become Iceberg snapshots (time-travel replaces the
  *    `_SUCCESS`-marker existence probe; resumable reads pin a snapshot id).
  *
  * Everything above this facade — partitioning, checkpoint resume, lineage
  * metrics — is format-agnostic.
  */
object TableIO {

  /** True when an Iceberg Spark runtime is on the classpath. */
  lazy val icebergAvailable: Boolean =
    try { Class.forName("org.apache.iceberg.spark.source.IcebergSource"); true }
    catch { case _: Throwable => false }

  private def useIceberg(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.tableFormat", if (icebergAvailable) "iceberg" else "parquet") == "iceberg"

  def read(spark: SparkSession, ident: String): DataFrame =
    if (useIceberg(spark)) spark.read.format("iceberg").load(ident)
    else spark.read.parquet(ident)

  def write(df: DataFrame, ident: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    if (useIceberg(df.sparkSession)) df.write.format("iceberg").mode(mode).save(ident)
    else df.write.mode(mode).parquet(ident)

  /** Committed-output existence probe (Iceberg: table exists in catalog;
    * Parquet: `_SUCCESS` marker — a bare directory is NOT a committed write). */
  def exists(spark: SparkSession, ident: String): Boolean =
    if (useIceberg(spark)) spark.catalog.tableExists(ident)
    else {
      val p = new Path(ident, "_SUCCESS")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }

  /** The committed table at `ident`, written from `compute` first unless a
    * committed copy already exists — the stage-resume rule: a rerun reads
    * the committed stage back instead of recomputing it. Also returns
    * whether the table was restored. */
  def restoreOrWrite(spark: SparkSession, ident: String)(
      compute: => DataFrame): (DataFrame, Boolean) = {
    val restored = exists(spark, ident)
    if (!restored) write(compute, ident)
    (read(spark, ident), restored)
  }

  /** Commit a chain or index pointer via `<path>.tmp`, delete, atomic rename. */
  def writePointer(spark: SparkSession, path: Path, text: String): Unit = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path.suffix(".tmp"), true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    if (fs.exists(path)) fs.delete(path, false)
    require(fs.rename(path.suffix(".tmp"), path), s"could not commit $path")
  }

  /** A [[writePointer]] pointer's committed text. A crash between the delete
    * and the rename leaves only the tmp: a COMPLETE one (its text ends in
    * `}`, which each pointer format puts only at the end) is the commit, and
    * the rename is finished here; a torn one reads as no pointer. */
  def readPointer(spark: SparkSession, path: Path): Option[String] = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def text(f: Path) = {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).mkString finally in.close()
    }
    val tmp = path.suffix(".tmp")
    if (fs.exists(path)) Some(text(path))
    else if (!fs.exists(tmp)) None
    else Some(text(tmp)).filter(_.trim.endsWith("}")).map { t =>
      require(fs.rename(tmp, path), s"could not roll $path forward from $tmp"); t
    }
  }

  /** The input contract (`BASELINE.json` input_hint): a table of audio clip
    * + transcript pairs with columns
    * (clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,
    * transcript string). */
  def readClips(spark: SparkSession, ident: String): Dataset[Clip] = {
    import spark.implicits._
    read(spark, ident)
      .selectExpr("clip_id", "bytes", "cast(sr_hz as int) sr_hz",
        "cast(dur_ms as int) dur_ms", "codec", "transcript")
      .as[Clip]
  }
}
