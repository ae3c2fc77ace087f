package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.runner.AmtRegistry

/** Output checks over gold parquet, read back the way a consumer reads it. */
object Gold {
  private def hashed(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))

  private val aggs = Seq(count(lit(1)), bit_xor(col("h")), sum(col("h").cast("decimal(38,0)")))

  private def render(r: org.apache.spark.sql.Row, from: Int): String =
    s"${r.getLong(from)}:${Option(r.get(from + 1)).getOrElse(0L)}:${Option(r.get(from + 2)).getOrElse(0)}"

  /** Order-insensitive content digest of a frame: row count, xor and
    * (decimal, overflow-free) sum of a 64-bit hash of every row. */
  def digest(df: DataFrame): String = render(hashed(df).agg(aggs.head, aggs.tail: _*).head(), 0)

  def viewDir(goldRoot: Path, year: String, view: String): Path =
    goldRoot.resolve(year).resolve(s"$view.parquet")

  final case class ViewCheck(view: String, rows: Long, digest: String, schemaOk: Boolean)

  /** Read every view's gold back: schema must equal the view's
    * `outputColumns` (names and order); returns rows and digest per view. */
  def check(spark: SparkSession, goldRoot: Path, year: String,
      views: Seq[String] = AmtRegistry.all.map(_.name)): Seq[ViewCheck] = {
    val got = checkDirs(spark, views.map(v => (v, viewDir(goldRoot, year, v), v)))
    views.map(got)
  }

  /** `check` over (key, directory, view) triples from any gold trees; all
    * digests come from one query over the union of the directories. */
  def checkDirs(spark: SparkSession, items: Seq[(String, Path, String)]): Map[String, ViewCheck] = {
    val frames = items.filter { case (_, dir, _) => Files.isDirectory(dir) }
      .map { case (k, dir, _) => k -> spark.read.parquet(dir.toString) }
    val digests = if (frames.isEmpty) Map.empty[String, String] else
      frames.map { case (k, df) => hashed(df).select(lit(k).as("key"), col("h")) }
        .reduce(_ unionByName _)
        .groupBy("key").agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getString(0) -> render(r, 1)).toMap
    val schemas = frames.map { case (k, df) => k -> df.columns.toSeq }.toMap
    items.map { case (k, _, v) =>
      k -> (schemas.get(k) match {
        case None => ViewCheck(v, -1, "missing", schemaOk = false)
        case Some(cols) =>
          val d = digests.getOrElse(k, "0:0:0")
          ViewCheck(v, d.takeWhile(_ != ':').toLong, d, cols == AmtRegistry.byName(v).outputColumns)
      })
    }.toMap
  }

  /** Row counts and schemas from the parquet footers alone, without a Spark
    * job: enough for the schema and non-emptiness checks of a large lake. */
  def footers(goldRoot: Path, year: String): Seq[ViewCheck] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    AmtRegistry.all.map { v =>
      val dir = viewDir(goldRoot, year, v.name)
      val parts = if (!Files.isDirectory(dir)) Nil else {
        val s = Files.list(dir)
        try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
        finally s.close()
      }
      if (parts.isEmpty) ViewCheck(v.name, -1, "missing", schemaOk = false)
      else {
        val read = parts.map { p =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(p.toUri), conf))
          try (r.getRecordCount, r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq)
          finally r.close()
        }
        ViewCheck(v.name, read.map(_._1).sum, "", read.forall(_._2 == v.outputColumns))
      }
    }
  }

  /** Bytes of the parquet data files under a gold tree. */
  def bytes(goldRoot: Path): Long =
    if (!Files.exists(goldRoot)) 0L
    else {
      val s = Files.walk(goldRoot)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
      finally s.close()
    }

  /** File names per view directory. Every write job names its part files
    * with a fresh job id, so a view whose names changed across a refresh
    * was rewritten. */
  def stamps(goldRoot: Path, year: String): Map[String, Set[String]] =
    AmtRegistry.all.map(_.name).map { v =>
      val dir = viewDir(goldRoot, year, v)
      v -> (if (!Files.isDirectory(dir)) Set.empty[String] else {
        val s = Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString).toSet
        finally s.close()
      })
    }.toMap
}
