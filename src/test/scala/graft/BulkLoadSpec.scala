package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{Changelog, SchemaRegistry}
import graft.cdc.SchemaRegistry.ColSpec
import graft.streaming.{UpsertSink, ViewLayout}
import graft.streaming.ChangelogStream.Change

/** The Spark jobs and tasks of the bulk load's control plane and its
  * first publish: the rotates and ALTER versions are resolved on the
  * driver (one job, or none for local inputs), the resume token is one
  * aggregate, and the view's buckets are written at task-slot width. */
class BulkLoadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.jobsOf

  /** A 1,000-event log planned over `spark.range` (not a local frame,
    * so reading it runs a job): a rotate every 100 positions. */
  private def rangeLog: DataFrame =
    spark.range(0, 1000).select(col("id").as("pos"), lit("upsert").as("op"), lit("t").as("tbl"),
      (col("id") % 7).as("id"), (col("id") / 5).cast("long").as("tx"), lit(1.0).as("val"),
      when(col("id") % 100 === 50, lit("signup")).otherwise(lit("x")).as("etype"))

  test("a first publish into a 64-bucket view writes its buckets in min(64, task slots) tasks") {
    val dir = Files.createTempDirectory("graft_bl_publish").toString
    UpsertSink.mergeBatch((1L to 2000L).map(i => Change(i, "upsert", "t", i, i * 0.5)).toDS(),
      dir, 0L, 64, 4, Seq("lastPos"))
    val buckets = ViewLayout.currentBucketDirs(dir)
    assert(buckets.size == 64)
    val files = buckets.map(d => new java.io.File(d).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq)
    assert(files.forall(_.size == 1), s"bucket dirs with more than one file: ${files.filter(_.size != 1)}")
    // a file name carries the partition id of the task that wrote it
    val writers = files.flatten.map(_.split("-")(1)).toSet
    val slots = spark.sparkContext.defaultParallelism
    assert(slots > 1 && writers.size == math.min(64, slots),
      s"64 bucket files written by ${writers.size} tasks, $slots task slots")
  }

  test("attachFile runs exactly one job when called") {
    val (filed, jobs) = jobsOf(Changelog.attachFile(rangeLog))
    assert(jobs == 1, s"attachFile ran $jobs jobs")
    val out = filed.select("pos", "file").as[(Long, String)].collect().toMap
    assert(out.size == 990 && out(49L) == Changelog.DefaultFile && out(51L) == "bin.000001" &&
      out(999L) == "bin.000005")
  }

  test("withAlters over local frames runs no job") {
    val base = SchemaRegistry.base(spark, Map("t" -> Seq(ColSpec("id", "bigint"))))
    val (reg, jobs) = jobsOf(
      SchemaRegistry.withAlters(base, Seq(("t", 5L), ("t", 9L)).toDF("tbl", "pos")).collect())
    assert(jobs == 0, s"withAlters ran $jobs jobs")
    assert(reg.map(_.getAs[Int]("version")).sorted.toSeq == Seq(0, 1, 2))
  }

  test("nextPosition is one aggregate: at most two jobs") {
    val (tok, jobs) = jobsOf(Changelog.nextPosition(rangeLog).collect())
    assert(jobs <= 2, s"nextPosition ran $jobs jobs")
    assert(tok.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("bin.000005", 1000L)))
  }
}
